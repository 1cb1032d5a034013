package graft.table

import org.apache.hadoop.fs.{Path => HPath}

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Who writes and who reads a lake, as small files under its log dir:
  * the advisory writer lease (`lease-<id>.json`), the versioned D10 client
  * registry (`clients-%06d.json`) and each client's heartbeat (`hb-<id>`). */
final class Subscribers(store: MetaStore, logDir: HPath, root: String) {
  import MetaStore.mapper

  private def fs = store.fs

  /** The file of identity `id`: `prefix`, the url-safe base64 of the FULL
    * id, `suffix`. Never a hash — colliding hashes would make two writers
    * share one lease file, the vacuum's one fence — nor the raw id: a '/'
    * in it would create a SUBDIRECTORY (Hadoop create auto-mkdirs) that
    * the non-recursive heartbeat listing never sees, so pruneDeadClients
    * would evict a live subscriber. */
  private def idFile(prefix: String, suffix: String)(id: String): HPath =
    new HPath(logDir, prefix + Base64.getUrlEncoder.withoutPadding
      .encodeToString(id.getBytes(UTF_8)) + suffix)

  /** The identity an [[idFile]] name encodes; None for a junk file that
    * merely shares the prefix. */
  private def idIn(prefix: String, suffix: String)(name: String): Option[String] =
    if (!name.startsWith(prefix)) None
    else try Some(new String(Base64.getUrlDecoder.decode(
      name.stripPrefix(prefix).stripSuffix(suffix)), UTF_8))
    catch { case _: IllegalArgumentException => None }

  // -- advisory writer lease --------------------------------------------------
  private val leasePath = idFile("lease-", ".json") _
  private val leaseHolder = idIn("lease-", ".json") _

  /** Renew this writer's advisory lease (one tiny overwrite; a live stream
    * renews per microbatch). The lease exists for exactly one consumer:
    * [[GraftLake.vacuum]]'s full sweep deletes files referenced by no
    * snapshot, which includes a mid-batch writer's not-yet-committed
    * output — the one maintenance operation that is UNSAFE under a live
    * writer (snapshot publishes themselves stay fenced regardless).
    * Advisory only: commits never consult it. */
  def renewLease(holder: String): Unit = {
    fs.mkdirs(logDir)
    store.write(leasePath(holder), holder)
  }

  /** Drop this writer's lease — a gracefully-terminating stream releases
    * eagerly so maintenance can run immediately; a crashed writer's lease
    * simply ages out of the TTL. */
  def releaseLease(holder: String): Unit = {
    val p = leasePath(holder)
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** The holder of a fresh FOREIGN lease (renewed within `ttlMs`), if any.
    * `self`'s own lease is invisible — a crash-restarted stream resumes the
    * same checkpoint lineage and must still sweep its predecessor's
    * orphans immediately. */
  def liveWriter(self: String = "", ttlMs: Long = 120000L): Option[String] =
    if (!fs.exists(logDir)) None
    else {
      val now = System.currentTimeMillis()
      fs.listStatus(logDir).toSeq
        .filter(st => now - st.getModificationTime <= ttlMs)
        .flatMap { st =>
          // the holder identity comes from the FILENAME (atomic), never
          // the file content: renewLease overwrites the lease in place, so
          // a concurrent read can catch the truncated-but-not-yet-written
          // state — an empty holder string would compare equal to a CLI
          // vacuum's default `self = ""` and make the live writer
          // invisible to the very fence that protects its in-flight batch.
          // A gracefully-terminating stream may delete its lease between
          // our list and this check — a vanished lease is a RELEASED lease.
          leaseHolder(st.getPath.getName).filter(_ => fs.exists(st.getPath))
        }
        .filter(_ != self)
        .sorted.headOption
    }

  // -- D10: client registration & identity --------------------------------
  // The reference gates subscriptions on a registered client identity
  // (reference base/identityCheck/IdentityCheckerJustLocal.java:33-42 — an
  // unknown client is rejected at registration). The lake analog is a
  // per-table registry file: once any client is registered, only
  // registered identities may open a subscription against this lake.
  // An empty/absent registry means the check is open (single-tenant
  // deployments).
  //
  // The registry is VERSIONED (`clients-%06d.json`, readers take the max
  // version) so that an update never deletes it — an absent registry
  // would open the gate; see updateRegistry.

  private val clientFileRe = "clients-(\\d+)\\.json".r
  private def clientsPath(ver: Long): HPath =
    new HPath(logDir, f"clients-$ver%06d.json")

  private def clientVersions(): Seq[Long] =
    if (!fs.exists(logDir)) Nil
    else store.list(logDir).map(_.getPath.getName).collect {
      case clientFileRe(v) => v.toLong
    }.sorted

  def registeredClients(): Set[String] = {
    // a concurrent updateRegistry prunes superseded versions right after
    // publishing the next one — a reader that listed the old max version
    // before the prune reads a now-deleted file. Re-list and retry the new
    // max (the registry is never deleted outright, so a bounded retry
    // always converges) instead of failing the subscription spuriously.
    def attempt(n: Int): Set[String] =
      try clientVersions().lastOption.map(clientsPath)
        .map(f => mapper.readValue(store.read(f), classOf[Array[String]]).toSet)
        .getOrElse(Set.empty)
      catch {
        case e: java.io.FileNotFoundException =>
          if (n >= 16) throw new IllegalStateException(
            s"client registry at $root kept vanishing across $n reads", e)
          attempt(n + 1)
      }
    attempt(1)
  }

  /** Registry read-modify-publish loop: publish `f(current)` at the NEXT
    * version, so a reader always sees a complete registry; a lost publish
    * race retries and folds in the winner's state. Older versions are
    * pruned best-effort AFTER the new one is live (a crash leaves extra
    * versions; readers take the max, so that's harmless). */
  private def updateRegistry(f: Set[String] => Set[String]): Unit = {
    fs.mkdirs(logDir)
    def attempt(n: Int): Unit = {
      val vers = clientVersions()
      val next = f(registeredClients()).toSeq.sorted
      val nextVer = vers.lastOption.getOrElse(0L) + 1
      if (store.publishString(clientsPath(nextVer), mapper.writeValueAsString(next)))
        vers.foreach(v => store.delete(clientsPath(v))) // post-publish prune
      else if (n >= 16) throw new IllegalStateException(
        s"client registry publish lost $n races at lake $root")
      else attempt(n + 1)
    }
    attempt(1)
  }

  /** Add `id` to the registry (and stamp its first heartbeat, so liveness
    * accounting starts at registration). */
  def registerClient(id: String): Unit = {
    updateRegistry(_ + id)
    heartbeat(id)
  }

  /** Reject an identity the registry does not know (reference D10). */
  def checkClient(id: String): Unit = {
    val reg = registeredClients()
    if (reg.nonEmpty && !reg.contains(id))
      throw new IllegalStateException(
        s"client '$id' is not registered for lake $root " +
          s"(registered: ${reg.toSeq.sorted.mkString(", ")})")
  }

  // -- D10 liveness: heartbeat + dead-client pruning -----------------------
  // The other half of the reference's registry: the server WATCHES its
  // registered clients and prunes the dead ones (reference
  // server/akkaSystem/BinglogBaseActor.java:139-152 — an actor-terminated
  // signal removes the client). Actors don't exist here; the equivalent
  // signal is a per-commit heartbeat file from each subscribed job, and
  // pruning is an explicit sweep (CLI `clients ... prune:<ttl>`) — like the
  // reference's cleaner, it runs on a schedule, never on the commit path.

  private val hbPath = idFile("hb-", "") _
  private val hbClient = idIn("hb-", "") _

  /** Stamp `id`'s liveness. One tiny overwrite per (lake, batch) — O(1),
    * and an overwrite needs no publish protocol: any complete write wins,
    * a torn read at worst under-reports liveness by one beat. */
  def heartbeat(id: String): Unit =
    store.write(hbPath(id), System.currentTimeMillis().toString)

  /** Last heartbeat epoch-millis per client id (registered or not). */
  def clientHeartbeats(): Map[String, Long] =
    if (!fs.exists(logDir)) Map.empty
    else store.list(logDir).map(_.getPath).flatMap { p =>
      hbClient(p.getName).flatMap { id =>
        try Some(id -> store.read(p).trim.toLong)
        catch { case _: Exception => None } // torn/garbled beat: not live
      }
    }.toMap

  /** Remove registered clients whose last heartbeat is older than `ttlMs`
    * (a registered client always has one — registration stamps it).
    * Returns the pruned ids. A pruned client that is actually alive just
    * re-registers: the gate is advisory admission control, not a lock. */
  def pruneDeadClients(ttlMs: Long,
      now: Long = System.currentTimeMillis()): Set[String] = {
    val beats = clientHeartbeats()
    // no heartbeat at all (pre-liveness registration) counts as dead too:
    // registration has stamped one since this feature exists
    val dead = registeredClients().filter(id =>
      beats.get(id).forall(b => now - b > ttlMs))
    if (dead.nonEmpty) {
      updateRegistry(_ -- dead)
      dead.foreach(id => store.delete(hbPath(id)))
    }
    dead
  }
}
