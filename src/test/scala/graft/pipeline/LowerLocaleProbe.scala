package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}

/** Run in a JVM of its own, started with the default locale under test:
  * checks that [[TextAnalysis.wordsOf]] lowercases every probe text as
  * Spark's `lower` does in that JVM. Prints one line per disagreement and
  * exits 1 if there is any, or if the locale's own rule for the dotted
  * capital I did not take effect (a `tr` locale drops the dot, others keep
  * it as U+0307).
  */
object LowerLocaleProbe {

  /** Dotted capital I, final and medial sigma, a capital I in all-ASCII
    * text (which Spark folds without the locale) and beside a dotless i
    * (which it folds with it), plain ASCII.
    */
  val texts: Seq[String] = Seq(
    "İSTANBUL", "ΟΔΟΣ ΣΟΦΙΑΣ", "Σ ΟΔΟΣ",
    "DIYARBAKIR", "DIYARBAKIR ıi", "Mixed CASE Words")

  def main(args: Array[String]): Unit = {
    def sparkLower(t: String): String = Lower(Literal(t)).eval().toString
    def show(ws: Array[String]): String =
      ws.map(_.map(c => f"U+${c.toInt}%04X").mkString(" ")).mkString("[", ", ", "]")
    val bad = texts.filterNot { t =>
      TextAnalysis.wordsOf(t, lower = true).toSeq ==
        TextAnalysis.wordsOf(sparkLower(t)).toSeq
    }.map(t => s"wordsOf ${show(TextAnalysis.wordsOf(t, lower = true))}" +
      s" != Spark lower ${show(TextAnalysis.wordsOf(sparkLower(t)))}")
    val expect =
      if (java.util.Locale.getDefault.getLanguage == "tr") "istanbul" else "i̇stanbul"
    val locale =
      if (sparkLower("İSTANBUL") == expect) Nil
      else Seq(s"the ${java.util.Locale.getDefault} case rule for U+0130 did not apply")
    (locale ++ bad).foreach(println)
    sys.exit(if (locale.isEmpty && bad.isEmpty) 0 else 1)
  }
}
