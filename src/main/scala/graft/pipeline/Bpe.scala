package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.exec.Materialize.Pin

/** Byte-pair-encoding vocabulary training and encoding — the tokenizer-
  * construction step of a training-data pipeline (Sennrich et al. 2016).
  *
  * Scale shape: the 100 TB corpus is touched ONCE, by a distributed
  * word-frequency count whose result is VOCABULARY-sized (distinct words,
  * not corpus tokens). Two trainers share that dictionary and agree
  * bit-for-bit on their common regime: [[train]] runs the merge loop
  * driver-side under an enforced residency bound (fast when the
  * vocabulary fits — mainstream tokenizer trainers' shape), and
  * [[trainDistributed]] keeps the dictionary a DataFrame and runs one
  * keyed aggregate per merge — no residency bound, the web-corpus path.
  * Training is deterministic: the best pair at each step breaks ties
  * lexicographically, so the same corpus yields the same merge table on
  * any cluster layout.
  *
  * [[encode]] applies the learned merge table per word as a column kernel
  * with a per-partition word memo — corpus-side encoding is a pure
  * map-side projection (zero shuffle), and repeated words (Zipf says most
  * of them) pay the merge walk once per partition.
  */
object Bpe {

  /** Ordered merge rules; `merges(i)` was learned at step i. */
  final case class Model(merges: Seq[(String, String)]) extends Serializable {
    /** Merge ranks for fast encoding: earlier = higher priority. */
    @transient lazy val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
  }

  /** Learn `numMerges` BPE merges from the corpus's word-frequency
    * dictionary. Words are the house tokenization (lowercased, whitespace
    * split); symbols start as single Unicode code points. Pairs occurring fewer
    * than `minPairCount` times stop the loop early.
    */
  def train(
      df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, maxWords: Long = 1L << 20): Model = {
    require(numMerges >= 0, "numMerges must be non-negative")
    val fetched = TextAnalysis.wordRows(df, textCol, "w")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .limit(graft.Limits.toIntBound(maxWords) + 1)
      .collect()
    require(fetched.length <= maxWords,
      s"BPE training holds the word dictionary driver-side (bound $maxWords " +
        "distinct words exceeded); pre-filter the corpus (e.g. keep words " +
        "above a frequency floor) before training")
    // words as mutable symbol arrays with their corpus frequency
    var words: Array[(Array[String], Long)] = fetched.map { r =>
      (toSymbols(r.getString(0)), r.getLong(1))
    }
    val merges = Vector.newBuilder[(String, String)]
    var step = 0
    var continue = true
    while (step < numMerges && continue) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (pairCounts.isEmpty) continue = false
      else {
        val (best, cnt) = bestPair(pairCounts)
        if (cnt < minPairCount) continue = false
        else {
          merges += best
          words = words.map { case (syms, n) => (mergeOnce(syms, best), n) }
          step += 1
        }
      }
    }
    Model(merges.result())
  }

  /** Symbol alphabet: Unicode CODE POINTS (a supplementary character is ONE
    * symbol). Splitting on UTF-16 code units would emit lone surrogates,
    * which Spark's UTF-8 row encoding replaces with '?' — collapsing
    * distinct symbols and silently diverging the two trainers on any
    * corpus with emoji or non-BMP CJK.
    */
  private[pipeline] def toSymbols(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Code-point string order — identical to UTF-8 byte order, which is
    * what Spark's UTF8String sort uses. Java's String#compareTo orders by
    * UTF-16 code UNITS, which ranks supplementary characters (surrogate
    * range 0xD800+) BELOW BMP characters 0xE000 and up — a tie-break
    * disagreement between the driver and distributed trainers on exactly
    * the non-BMP corpora the code-point alphabet exists for.
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Argmax by (count desc, a asc, b asc) under [[cpCompare]]. */
  private def bestPair(
      counts: scala.collection.mutable.HashMap[(String, String), Long])
      : ((String, String), Long) = {
    var best: ((String, String), Long) = null
    counts.foreach { case (p, c) =>
      if (best == null) best = (p, c)
      else {
        val byCount = java.lang.Long.compare(c, best._2)
        val wins = byCount > 0 || (byCount == 0 && {
          val x = cpCompare(p._1, best._1._1)
          x < 0 || (x == 0 && cpCompare(p._2, best._1._2) < 0)
        })
        if (wins) best = (p, c)
      }
    }
    best
  }

  /** Learn `numMerges` BPE merges with the merge loop DISTRIBUTED: the
    * word dictionary stays a DataFrame (never resident on the driver), and
    * each merge step is one keyed aggregate — explode adjacent symbol
    * pairs, sum corpus frequency per pair, `TakeOrdered(k)` the best — plus
    * one map-side projection applying the merge via the SAME
    * [[mergeOnce]] kernel the driver path uses, so the two trainers agree
    * bit-for-bit wherever [[train]]'s residency bound admits the corpus.
    *
    * Scale shape: per merge, work is dictionary-sized (distinct words),
    * not corpus-sized — the corpus is touched exactly once by the
    * word-count. Fully-merged words RETIRE from the working set (a
    * single-symbol word can never pair again), so the per-step aggregate
    * shrinks monotonically; lineage is pinned per step with
    * `localCheckpoint` (the [[Graph]] iteration discipline) so step k
    * does not replay steps 0..k-1. No residency bound needed: the only
    * thing the driver ever holds is the current best pairs.
    *
    * `mergeBatch` > 1 amortizes the per-merge census for production-sized
    * vocabularies (a 30k-merge tokenizer at one census per merge is 30k
    * Spark jobs): per census round, the trainer accepts the LONGEST
    * ranked prefix of pairs that is provably order-equivalent to running
    * them sequentially, so the merge table is bit-identical to
    * `mergeBatch = 1` (spec-pinned). The acceptance rule and why it is
    * exact:
    *  - pairs are taken in census rank order (count desc, then (a, b) in
    *    code-point order — the sequential tie-break);
    *  - an accepted pair must be SYMBOL-DISJOINT from every earlier
    *    accepted pair, so applying earlier merges cannot create or
    *    destroy its occurrences (creation needs the new merged symbol;
    *    destruction needs a shared symbol's adjacency);
    *  - each accepted pair beyond the first must have count STRICTLY
    *    above the best rejected census row: every pair the sequential
    *    trainer could newly prefer at an intermediate step — a pair
    *    involving a just-merged symbol — inherits its count from an old
    *    pair that shares a symbol with an accepted pair (each new
    *    occurrence comes from an old triple), and such sharers are not
    *    in the accepted prefix, so their counts sit at or below that
    *    rejected row;
    *  - the concatenated merge strings must not collide with any symbol
    *    LIVE in the working set (nor each other): a collision would let
    *    a merge INCREASE an existing pair's count (new adjacencies of
    *    the merged symbol would alias an old symbol's), voiding the
    *    bound. Checked with one dictionary-sized probe per round; on a
    *    clash the round falls back to the plain sequential single merge.
    */
  def trainDistributed(
      df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, mergeBatch: Int = 1): Model = {
    require(numMerges >= 0, "numMerges must be non-negative")
    require(mergeBatch >= 1 && mergeBatch <= 4096,
      s"mergeBatch must be in [1, 4096], got $mergeBatch")
    // same code-point symbol alphabet as train() (see toSymbols: UTF-16
    // units would put lone surrogates in rows, which UTF-8 encoding mangles)
    val toSyms = udf((w: String) => toSymbols(w).toSeq)
    var words = TextAnalysis.wordRows(df, textCol, "w")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(toSyms(col("w")).as("syms"), col("n"))
      .filter(size(col("syms")) >= 2) // single-symbol words never pair
      .pin("Bpe.trainDistributed words")
    val merges = Vector.newBuilder[(String, String)]
    var step = 0
    var continue = true
    while (step < numMerges && continue) {
      // adjacent-pair census: native HOFs (codegen'd), one hash aggregate,
      // TakeOrderedAndProject for the argmax — tie-break (-cnt, a, b)
      // matches train()'s bestPair ordering (Spark string sort = UTF-8
      // byte compare = code-point order = cpCompare; NOT Scala's
      // String#compareTo, which is UTF-16-unit order). One extra row past
      // the batch bound = the best REJECTED count the equivalence rule
      // compares against.
      val want = math.min(mergeBatch, numMerges - step)
      val top = words
        .select(explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"),
          col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(want + 1)
        .collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      if (top.isEmpty || top(0)._2 < minPairCount) continue = false
      else {
        // phase 1: longest pairwise-disjoint, above-minPairCount ranked
        // prefix (stop at the first violating row — skipping would break
        // the rank-order equivalence)
        var m = 1
        var stopped = false
        while (!stopped && m < top.length && m < want) {
          val (p, c) = top(m)
          val disjoint = top.take(m).forall { case ((a, b), _) =>
            p._1 != a && p._1 != b && p._2 != a && p._2 != b
          }
          if (c >= minPairCount && disjoint) m += 1 else stopped = true
        }
        // phase 2: truncate to a STRICT count drop against the first
        // rejected census row. Every pair the sequential trainer could
        // newly prefer mid-batch (a riser involving a merged symbol)
        // inherits its count from a non-accepted census row, so accepted
        // rows beyond the first must strictly exceed top(m)'s count —
        // ties are unsafe (a risen pair at equal count could win the lex
        // tie-break). Counts are census-ordered, so the minimum accepted
        // count is top(m-1)'s; if the prefix is the ENTIRE census there
        // are no sharers, hence no risers, and no truncation is needed.
        while (m > 1 && m < top.length && top(m - 1)._2 <= top(m)._2) m -= 1
        val accepted = top.take(m).toBuffer
        // collision probe (only needed when actually batching): a merge
        // string aliasing a LIVE symbol or another accepted merge string
        // voids the count bound — fall back to the sequential single merge
        val batch: Seq[(String, String)] =
          if (accepted.size <= 1) Seq(accepted(0)._1)
          else {
            val strs = accepted.map { case ((a, b), _) => a + b }
            val pairwiseClash = strs.distinct.size != strs.size ||
              accepted.exists { case ((a, b), _) =>
                strs.contains(a) || strs.contains(b) }
            val liveClash = pairwiseClash || !words
              .select(explode(col("syms")).as("s"))
              .where(col("s").isin(strs.toSeq: _*))
              .limit(1).isEmpty
            if (liveClash) Seq(accepted(0)._1)
            else accepted.map(_._1).toSeq
          }
        merges ++= batch
        val batchArr = batch.toArray
        val mergeU = udf((syms: Seq[String]) => {
          var s = syms.toArray
          var j = 0
          while (j < batchArr.length) { s = mergeOnce(s, batchArr(j)); j += 1 }
          s.toSeq
        })
        // prior steps' checkpoint blocks free when the ContextCleaner GCs
        // the dropped RDD reference — Dataset.unpersist would be a no-op
        // here (it only uncaches CacheManager entries, not checkpoint RDDs)
        words = words
          .select(mergeU(col("syms")).as("syms"), col("n"))
          .filter(size(col("syms")) >= 2)
          .pin(s"Bpe.trainDistributed step $step")
        step += batch.size
      }
    }
    Model(merges.result())
  }

  private def mergeOnce(syms: Array[String], pair: (String, String)): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += (pair._1 + pair._2)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** Encode one word under the model: repeatedly apply the highest-ranked
    * (earliest-learned) applicable merge — the standard BPE inference
    * order, which reproduces training segmentation on seen words.
    */
  private[pipeline] def encodeWord(word: String, model: Model): Array[String] = {
    var syms = toSymbols(word)
    var changed = true
    while (changed && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        val r = model.rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (bestPair == null) changed = false
      else syms = mergeOnce(syms, bestPair)
    }
    syms
  }

  /** Subword tokens of a text column under a trained model: words split
    * to learned subword units, unseen character sequences stay as single
    * characters. Pure projection with a per-partition word memo.
    */
  def encode(c: Column, model: Model): Column = {
    val u = udf(new (String => Seq[String]) with Serializable {
      @transient private lazy val memo =
        new java.util.HashMap[String, Array[String]]()
      override def apply(t: String): Seq[String] = {
        if (t == null) return null
        val words = TextAnalysis.wordsOf(t, lower = true)
        val out = Seq.newBuilder[String]
        words.foreach { w =>
          if (w.nonEmpty) {
            var enc = memo.get(w)
            if (enc == null) {
              enc = encodeWord(w, model)
              if (memo.size < (1 << 16)) memo.put(w, enc)
            }
            out ++= enc
          }
        }
        out.result()
      }
    })
    u(c)
  }
}
