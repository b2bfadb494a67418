package graftbench

object Workloads {
  val names: Seq[String] = Seq("harmonize", "curate")

  def apply(name: String, seed: Long): Workload = name match {
    case "harmonize" => new HarmonizeWorkload(seed)
    case "curate" => new CurateWorkload(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }
}

/** Seeded word and name material shared by the generators. */
object Words {
  private val consonants = "bcdfghklmnprstvz"
  private val vowels = "aeiou"
  val syllables: IndexedSeq[String] =
    for (c <- consonants; v <- vowels) yield s"$c$v"

  def word(r: scala.util.Random, minSyl: Int, maxSyl: Int): String =
    (1 to minSyl + r.nextInt(maxSyl - minSyl + 1)).map(_ => syllables(r.nextInt(syllables.size))).mkString

  /** `n` distinct values, each built by `make`. */
  def distinct(n: Int)(make: => String): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += make
    seen.toIndexedSeq
  }
}
