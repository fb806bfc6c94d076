package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Concat-and-chunk sequence packing: lay the corpus's token streams
  * end-to-end in a deterministic document order and cut fixed-size
  * training chunks, assigning each document the chunk where it starts.
  * This is the standard "concatenate then split every N tokens"
  * pretraining layout, made reproducible by keying the order on the id
  * column rather than on arrival order.
  *
  * Scale shape: a global running sum ordered by id, WITHOUT a global
  * window (which would funnel the whole corpus through one task) and
  * WITHOUT trusting any physical partition boundary. Documents map to
  * value-derived buckets — fixed equal id-intervals between the corpus's
  * min and max id — so every step is keyed on bucket VALUES:
  *   1. one cheap aggregate reads (min, max) of the id column;
  *   2. per-bucket token totals reduce map-side (groupBy bucket, a few
  *      thousand rows to the driver), prefix-summed into per-bucket
  *      start offsets and broadcast;
  *   3. rows hash-shuffle by bucket, sort (bucket, id) within partitions,
  *      and a per-partition scan adds the local running sum — resetting
  *      at each bucket change — to the bucket's offset.
  * Nothing depends on which physical partition a row lands in, so the
  * result is deterministic on any cluster size and under Spark's
  * rdd.id-seeded range-boundary sampling (which CAN differ between
  * separately planned jobs — the reason this operator does not use
  * repartitionByRange). Only (id, tokens) pairs ever shuffle — never
  * text. Buckets are equal id-INTERVALS, so they are even when ids are
  * roughly uniform (sequential doc ids, hash-derived ids); a pathological
  * id distribution concentrates buckets but still computes correctly,
  * bounded by the per-bucket row count.
  */
object Packing {

  /** Per-document chunk assignment: (id, tokens, token_start, chunk_id)
    * with chunk_id = floor(token_start / chunkTokens), token_start the
    * document's offset in the id-ordered concatenated token stream.
    * `tokenCol` is a precomputed token count (compose with
    * [[TextAnalysis.tokenCount]]), so packing stays decoupled from any
    * one tokenizer. Ids must be unique (they name documents): rows that
    * tie on id would get an unspecified relative order, and with it
    * unspecified individual offsets.
    */
  def packChunks(
      df: DataFrame, idCol: String, tokenCol: String, chunkTokens: Long): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be positive, got $chunkTokens")
    Inputs.integral(df, "packChunks", "id column", idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df
      .select(col(idCol).cast("long").as("_1"), col(tokenCol).cast("long").as("_2"))
    // pass 1: id range (null when the frame is empty) + null probe — a
    // NULL id/token row would crash pass 3's tuple encoder mid-job (and an
    // all-null id frame used to read as "empty", silently dropping rows)
    val Array(minMax) = pairs.agg(min("_1"), max("_1"),
      sum(when(col("_1").isNull || col("_2").isNull, 1L).otherwise(0L)),
      count(lit(1))).collect()
    val nullRows = if (minMax.isNullAt(2)) 0L else minMax.getLong(2)
    require(nullRows == 0L,
      s"packChunks: $nullRows rows carry a NULL $idCol/$tokenCol — drop " +
        "or impute them explicitly first")
    if (minMax.isNullAt(0))
      return spark.emptyDataFrame
        .select(lit(0L).as(idCol), lit(0L).as("tokens"),
          lit(0L).as("token_start"), lit(0L).as("chunk_id"))
        .limit(0)
    val (lo, hi) = (minMax.getLong(0), minMax.getLong(1))
    // value-derived buckets: equal id-intervals, ~16 per shuffle partition
    // so hash placement stays balanced. The double rounding inside the
    // bucket formula is irrelevant to correctness — it only has to be the
    // SAME function of the id in every pass, and it is monotone in id.
    val buckets = math.max(16 * spark.conf.get("spark.sql.shuffle.partitions").toInt, 1)
    val span = math.max(hi.toDouble - lo.toDouble + 1.0, 1.0)
    def bucketOf(id: org.apache.spark.sql.Column) =
      least(floor((id.cast("double") - lit(lo.toDouble)) / lit(span) * lit(buckets))
        .cast("long"), lit(buckets - 1L))
    // pass 2: per-bucket totals (map-side combinable), driver prefix sum
    val totals = pairs.groupBy(bucketOf(col("_1")).as("__b"))
      .agg(sum("_2").as("__t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offsets = new Array[Long](buckets)
    var acc = 0L
    (0 until buckets).foreach { b =>
      offsets(b) = acc
      acc += totals.getOrElse(b.toLong, 0L)
    }
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 3: shuffle by bucket value, scan each partition in (bucket, id)
    // order with a running sum that resets at bucket changes
    pairs
      .withColumn("__b", bucketOf(col("_1")))
      .repartition(col("__b"))
      .sortWithinPartitions("__b", "_1")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var bucket = -1L
        var running = 0L
        it.map { case (id, ntok, b) =>
          if (b != bucket) { bucket = b; running = bc.value(b.toInt) }
          val start = running
          running += ntok
          (id, ntok, start, start / chunkTokens)
        }
      }.toDF(idCol, "tokens", "token_start", "chunk_id")
  }

  /** Chunk-level census over [[packChunks]]: how many documents start in
    * each chunk and how many of their tokens it anchors. The per-chunk
    * aggregate is map-side combinable on top of the packed frame.
    */
  def chunkProfile(
      df: DataFrame, idCol: String, tokenCol: String, chunkTokens: Long): DataFrame =
    packChunks(df, idCol, tokenCol, chunkTokens)
      .groupBy("chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("n_tokens"))

  /** Length-bucketed padding profile: each document lands in the smallest
    * bucket (from the sorted `edges`, in tokens) that holds it, and the
    * report shows per-bucket document/token mass, the padded token cost
    * (`bucket * n_docs`), the waste, and the fill rate — the numbers that
    * drive bucket-edge tuning for inference batching, where every sequence
    * in a batch pads to the bucket length. Documents longer than the last
    * edge report under bucket -1 with zero waste (they are chunk-packed by
    * [[packChunks]] instead, not padded); zero-token documents emit
    * nothing. One partially-combined aggregation over a codegen'd CASE
    * chain — a single tiny shuffle at any scale. The fill rate is a ratio
    * of two small ints, so the double reproduces in any engine.
    */
  def paddingProfile(
      df: DataFrame, tokenCol: String, edges: Seq[Long]): DataFrame = {
    require(edges.nonEmpty, "at least one bucket edge is required")
    require(edges == edges.sorted && edges.distinct == edges,
      "bucket edges must be strictly ascending")
    require(edges.head > 0, "bucket edges must be positive")
    val bucket = edges.foldRight(lit(-1L)) { (e, acc) =>
      when(col(tokenCol) <= e, lit(e)).otherwise(acc)
    }
    df.filter(col(tokenCol) > 0)
      .withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(tokenCol).as("n_tokens"))
      .withColumn("padded",
        when(col("bucket") > 0, col("bucket") * col("n_docs"))
          .otherwise(col("n_tokens")))
      .withColumn("waste", col("padded") - col("n_tokens"))
      .withColumn("fill_rate",
        col("n_tokens").cast("double") / col("padded").cast("double"))
  }

  /** The loader-side view of [[packChunks]]: one row per (document, chunk)
    * slice. A document spanning a chunk boundary contributes one slice per
    * chunk it touches, with the slice's offset inside the chunk and its
    * length — exactly what a training data loader reads to assemble a
    * chunk's token stream (and where its attention-reset boundaries fall).
    * Zero-token documents emit no slices.
    *
    * Pure map-side explode on top of the packed frame (a document touches
    * ceil(tokens / chunkTokens) + 1 chunks at most, so the fan-out is
    * bounded by the mix of document and chunk sizes, not by corpus size).
    */
  def chunkSlices(
      df: DataFrame, idCol: String, tokenCol: String, chunkTokens: Long): DataFrame = {
    val packed = packChunks(df, idCol, tokenCol, chunkTokens)
    val C = lit(chunkTokens)
    val endTok = col("token_start") + col("tokens") // exclusive
    // integral div, not floor(/): Spark's `/` on longs is DOUBLE division,
    // and offsets at the 100-T-token scale sit near double's exact-integer
    // edge — `div` stays in long arithmetic like the packing kernel itself
    val lastChunk = expr(s"(token_start + tokens - 1) div $chunkTokens")
    packed
      .filter(col("tokens") > 0)
      .withColumn("chunk", explode(sequence(col("chunk_id"), lastChunk)))
      .withColumn("chunk_offset",
        greatest(col("token_start"), col("chunk") * C) - col("chunk") * C)
      .withColumn("slice_len",
        least(endTok, (col("chunk") + 1) * C) -
          greatest(col("token_start"), col("chunk") * C))
      .select(col(idCol), col("chunk"), col("chunk_offset"), col("slice_len"))
  }
}
