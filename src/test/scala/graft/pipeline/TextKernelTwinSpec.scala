package graft.pipeline

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.Streaming

/** The JVM text kernels against their Catalyst twins: both read the one
  * word split of [[TextAnalysis.words]] (Spark `trim`, U+0020 only, then a
  * `\s+` split keeping edge empty words), so they agree on every input —
  * NULL, blank, edge tabs and newlines, control characters, mixed case and
  * text shorter than the shingle size — under generated and interpreted
  * evaluation alike. Operators built on either twin therefore flag and
  * count the same documents.
  */
class TextKernelTwinSpec extends SparkSpec {

  private val texts: Seq[String] = Seq(
    null, "", "  ", "a b\n", "\ta b", "\u0001a b", "p q\n", "q \n",
    " a  b ", "a\tb\nc ", "Mixed CASE Words Mixed case", "Ab", "x Y",
    "one two three four five") ++ LowerLocaleProbe.texts

  private val schema = StructType(Seq(StructField("t", StringType)))

  /** `exprs` over every text under one codegen mode, one row per text in
    * order.
    */
  private def eval(mode: String, exprs: Column*): Seq[Row] =
    codegenSession(mode)
      .createDataFrame(java.util.Arrays.asList(texts.map(Row(_)): _*), schema)
      .select(exprs: _*).collect().toSeq

  private def seqOrNull[A](a: Array[A]): Seq[A] = if (a == null) null else a.toSeq

  private def seqAt[A](r: Row, i: Int): Seq[A] = if (r.isNullAt(i)) null else r.getSeq[A](i)

  private val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  for (mode <- modes) {
    test(s"wordsOf equals the Catalyst word split ($mode)") {
      val rows = eval(mode, TextAnalysis.words(col("t")),
        TextAnalysis.wordsLower(col("t")))
      texts.zip(rows).foreach { case (t, r) =>
        assert(seqAt[String](r, 0) === seqOrNull(TextAnalysis.wordsOf(t)),
          s"words of ${String.valueOf(t).map(_.toInt)}")
        assert(seqAt[String](r, 1) ===
          seqOrNull(TextAnalysis.wordsOf(t, lower = true)),
          s"lowercased words of ${String.valueOf(t).map(_.toInt)}")
      }
      // the edge empty word is kept, as in string_split_regex
      assert(TextAnalysis.wordsOf("a b\n").toSeq === Seq("a", "b", ""))
      assert(TextAnalysis.wordsOf("\ta b").toSeq === Seq("", "a", "b"))
    }

    test(s"JVM shingle kernels equal their Catalyst twins ($mode)") {
      for (k <- Seq(1, 2, 3)) {
        val rows = eval(mode,
          Dedup.shingles(lower(col("t")), k),
          Dedup.minhashSignatureText(col("t"), k, 8),
          Dedup.minhashSignature(Dedup.shingles(col("t"), k), 8))
        texts.zip(rows).foreach { case (t, r) =>
          val what = s"k=$k text ${String.valueOf(t).map(_.toInt)}"
          assert(seqAt[String](r, 0) === seqOrNull(Dedup.lowerShingles(t, k)), what)
          assert(seqAt[Long](r, 1) === seqAt[Long](r, 2), what)
        }
      }
    }
  }

  // the default locale is JVM-wide: each run gets a JVM of its own
  for ((lang, country) <- Seq(("tr", "TR"), ("en", "US")))
    test(s"wordsOf lowercases as Spark's lower under a $lang-$country default locale") {
      val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
      val proc = new ProcessBuilder(javaBin.toString, "-Xmx128m",
          s"-Duser.language=$lang", s"-Duser.country=$country",
          "-cp", System.getProperty("java.class.path"),
          "graft.pipeline.LowerLocaleProbe")
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      assert(proc.waitFor() === 0, out)
    }

  test("contaminatedIds and streamingDecontaminate flag the same ids") {
    val docSchema = StructType(Seq(longCol("id"), strCol("text")))
    val docs = makeDf(docSchema, texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t)
    })
    val blocks = makeDf(StructType(Seq(strCol("text"))),
      Seq(Row("q \n"), Row("B\t"), Row("case words")))
    for (n <- Seq(1, 2, 3)) {
      val batch = Dedup.contaminatedIds(docs, "id", "text", blocks, "text", n)
        .collect().map(_.getLong(0)).toSet
      val kept = Streaming.streamingDecontaminate(docs, "text", blocks, "text", n)
        .select("id").collect().map(_.getLong(0)).toSet
      // NULL text has no grams: neither path flags it, the stream keeps it
      val streamed = texts.indices.map(_.toLong).toSet -- kept
      assert(batch === streamed, s"n=$n")
    }
    // "p q\n" shares the 2-gram "q " (the trailing empty word) with "q \n"
    val pq = texts.indexOf("p q\n").toLong
    assert(Dedup.contaminatedIds(docs, "id", "text", blocks, "text", 2)
      .collect().map(_.getLong(0)).contains(pq))
  }

  test("BPE training words are encode's words") {
    val docSchema = StructType(Seq(longCol("id"), strCol("text")))
    val corpus = texts.filter(_ != null)
    val docs = makeDf(docSchema, corpus.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t)
    })
    // enough merges at count 1 fuse every training word into one symbol,
    // so encode returns a document's training words themselves
    val model = Bpe.train(docs, "text", numMerges = 1000, minPairCount = 1)
    val rows = docs.select(col("id"),
        filter(TextAnalysis.wordsLower(col("text")), w => length(w) > 0).as("w"),
        Bpe.encode(col("text"), model).as("e"))
      .collect()
    assert(rows.length === corpus.length)
    rows.foreach { r =>
      assert(seqAt[String](r, 2) === seqAt[String](r, 1),
        s"document ${corpus(r.getLong(0).toInt).map(_.toInt)}")
    }
  }
}
