package graft.functions

/** Committed BPE merges fixture: 40 merges learned from the sf0.01
  * `documents` corpus by `graft.Tool trainbpe` (Sennrich-style training,
  * [[Bpe.train]] — deterministic: most-frequent pair per round, ties
  * lexicographic). Regenerate with
  * `sbt "runMain graft.Tool trainbpe <sf0.01 dir> 40"`; the q_bpe
  * DuckDB oracle inlines the SAME table as VALUES rows, so the gate proves
  * the Scala apply and an independent SQL re-application of the merges
  * agree token-for-token.
  */
object BpeFixture {
  val merges: Vector[(String, String)] = Vector(
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("r", "ow"),
    ("at", "c"),
    ("atc", "h"),
    ("b", "atch"),
    ("a", "n"),
    ("c", "an"),
    ("s", "can"),
    ("c", "o"),
    ("c", "u"),
    ("co", "lu"),
    ("colu", "m"),
    ("colum", "n"),
    ("cu", "st"),
    ("cust", "o"),
    ("custo", "mer"),
    ("f", "i"),
    ("fi", "l"),
    ("fil", "t"),
    ("filt", "er"),
    ("a", "l"),
    ("al", "l"),
    ("m", "all"),
    ("s", "mall"),
    ("g", "e"),
    ("l", "ow"))
}
