package graft.cli

/** One verb's argument grammar. `required` positionals come first, in
  * order. After them, in any order, a bare token (no `:`) fills the next
  * free one of `slots`, and every other token is one of `kinds`, at most
  * one token per kind. A kind lists its alternatives: a word (`force`,
  * `bootstrap:none`) matches itself, a `key:<value>` form every token that
  * starts with `key:`. */
final case class Verb(required: Seq[String], slots: Seq[String] = Nil,
    kinds: Seq[Seq[String]] = Nil) {
  def usage: String = (required.map(r => s"<$r>") ++ slots.map(s => s"[$s]") ++
    kinds.map(_.mkString("[", "|", "]"))).mkString(" ")
}

/** A command line that passed its verb's grammar: the value of every token
  * given, keyed by positional or slot name, by `key:` (the rest of the
  * token) or by word (the word itself). Numeric reads go through
  * [[Args.num]], so a bad value fails naming the verb and the argument. */
final class Args private (val verb: String, values: Map[String, String]) {
  def apply(name: String): String = values(name)
  def get(name: String): Option[String] = values.get(name)
  def has(word: String): Boolean = values.contains(word)
  def int(name: String, lo: Int = 1): Option[Int] =
    get(name).map(Args.num(verb, name, _, _.toIntOption, lo, Int.MaxValue))
  def long(name: String, lo: Long = 1L, hi: Long = Long.MaxValue): Option[Long] =
    get(name).map(Args.num(verb, name, _, _.toLongOption, lo, hi))
  def double(name: String, hi: Double = Double.MaxValue): Option[Double] =
    get(name).map(Args.num(verb, name, _, _.toDoubleOption, 0.0, hi))
}

object Args {
  /** `raw` parsed, when it parses and lies in `[lo, hi]`; else an
    * IllegalArgumentException "<who>: <name> needs a number in [lo, hi]".
    * The one numeric check of the CLI's arguments and of the changelog
    * source's options. */
  def num[T](who: String, name: String, raw: String, parse: String => Option[T],
      lo: T, hi: T)(implicit ord: Ordering[T]): T =
    parse(raw).filter(v => ord.gteq(v, lo) && ord.lteq(v, hi))
      .getOrElse(throw new IllegalArgumentException(
        s"$who: $name needs a number in [$lo, $hi] (got '$raw')"))

  /** `args` (verb first) checked against the verb's grammar in `verbs`:
    * an unknown verb, a missing positional, an unknown token, a second
    * token of one kind or a bare token with no free slot throws an
    * IllegalArgumentException. */
  def parse(args: Seq[String], verbs: Map[String, Verb]): Args = {
    val verb = args.headOption.getOrElse("")
    val g = verbs.getOrElse(verb, throw new IllegalArgumentException(
      s"unknown verb '$verb' (expected one of ${verbs.keys.toSeq.sorted.mkString(", ")})"))
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"$verb: $what (expected ${g.usage})")
    val (req, rest) = args.drop(1).splitAt(g.required.size)
    if (req.size < g.required.size) fail(s"missing <${g.required(req.size)}>")
    def key(alt: String): String = alt.takeWhile(_ != '<')
    def matches(alt: String, t: String): Boolean =
      if (alt.contains('<')) t.startsWith(key(alt)) else t == alt
    val values = rest.foldLeft(g.required.zip(req).toMap) { (m, t) =>
      g.kinds.find(_.exists(matches(_, t))) match {
        case Some(kind) if !kind.exists(a => m.contains(key(a))) =>
          val alt = kind.find(matches(_, t)).get
          m + (key(alt) -> (if (alt.contains('<')) t.drop(key(alt).length) else t))
        case None if !t.contains(':') && g.slots.exists(!m.contains(_)) =>
          m + (g.slots.find(!m.contains(_)).get -> t)
        case _ => fail(s"unknown argument '$t'")
      }
    }
    new Args(verb, values)
  }
}
