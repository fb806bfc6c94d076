package graft

import org.apache.spark.sql.SparkSession

import graft.accounting._
import graft.budget._
import graft.constraints._
import graft.ir._
import graft.keyset.KeySet
import graft.session.Session

/** Runnable first-steps tour of the library — the equivalent of the
  * reference's intro notebooks (demos/intro_demo.ipynb): build a session,
  * inspect it, spend privacy budget on real queries, derive views, split
  * the budget across partitions, and watch the accountant say no when it
  * runs out. `DemoSpec` runs the same walkthrough and asserts its output.
  *
  * Run with:
  *   sbt "runMain graft.Demo [/path/to/testdata/sf0.001]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, sfDir)
    spark.stop()
  }

  /** The walkthrough body, separated from session ownership so the spec can
    * drive it on the shared test SparkSession.
    */
  def run(spark: SparkSession, sfDir: String): Unit = {
    def banner(s: String): Unit = println(s"\n=== $s " + "=" * math.max(4, 60 - s.length))

    banner("1. Build a session with a privacy budget")
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val session = Session.fromDataFrame(
      spark,
      PureDPBudget(4.0),            // total epsilon this session may spend
      "lineitem",
      lineitem,
      AddOneRow())                  // unit of protection: one row
    println(session.describe())

    banner("2. A differentially private count (epsilon = 1)")
    val countQ = QueryBuilder("lineitem").filter("l_quantity > 10").count()
    // noiseInfo explains the mechanism before spending anything
    println(s"mechanism: ${session.noiseInfo(countQ, PureDPBudget(1.0))}")
    session.evaluate(countQ, PureDPBudget(1.0)).show()
    println(s"remaining budget: ${session.remainingPrivacyBudget}")

    banner("3. Group-by with an explicit key domain (epsilon = 1)")
    val keys = KeySet.fromColumn("l_returnflag", Seq("A", "N", "R"))
    session.evaluate(
      QueryBuilder("lineitem").groupby(keys).sum("l_quantity", 0, 50),
      PureDPBudget(1.0)).show()

    banner("4. Histogram sugar over binned values (epsilon = 1)")
    session.evaluate(
      QueryBuilder("lineitem")
        .histogram("l_quantity", BinningSpec(Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0))),
      PureDPBudget(1.0)).show()

    banner("5. Views: name a transformation, query it like a table")
    // creating a view spends nothing — budget is charged only at evaluate
    session.createView(
      QueryBuilder("lineitem").filter("l_quantity >= 25")
        .select("l_returnflag", "l_quantity"),
      "bulky", cache = true)
    println(s"private sources now: ${session.privateSources.mkString(", ")}")
    session.evaluate(QueryBuilder("bulky").groupby(keys).count(),
      PureDPBudget(1.0)).show()
    session.deleteView("bulky")

    banner("6. describe(query): output schema without spending")
    println(session.describe(
      QueryBuilder("lineitem").groupby(keys).average("l_quantity", 0, 50)))

    banner("7. The accountant refuses to overspend")
    try session.evaluate(QueryBuilder("lineitem").count(), PureDPBudget(1.0))
    catch {
      case e: IllegalArgumentException => println(s"rejected as expected: ${e.getMessage}")
    }

    banner("8. Privacy IDs: protect every row of a user at once")
    val events = {
      import org.apache.spark.sql.types._
      // events.parquet carries a nanosecond timestamp Spark cannot decode;
      // read just the columns the demo needs
      spark.read.schema(StructType(Seq(
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
        .parquet(s"$sfDir/events.parquet")
    }
    val idSession = Session.fromDataFrame(
      spark, PureDPBudget(3.0), "events", events, AddRowsWithID("user_id"))
    // counting distinct users needs no contribution bound...
    idSession.evaluate(
      QueryBuilder("events").select("user_id").countDistinct(Seq("user_id"), name = "n_users"),
      PureDPBudget(1.0)).show()
    // ...but row-level aggregations do: enforce() truncates each user's rows
    idSession.evaluate(
      QueryBuilder("events").enforce(MaxRowsPerID(20))
        .groupby(KeySet.fromColumn("event_type",
          Seq("click", "error", "purchase", "signup", "view")))
        .count(),
      PureDPBudget(1.0)).show()

    banner("9. Partitions: disjoint child sessions, one parallel charge")
    // a truncation view makes the IDs table partitionable; each child then
    // holds the FULL partition budget over its slice (parallel composition)
    idSession.createView(
      QueryBuilder("events").enforce(MaxRowsPerID(5)), "truncated", cache = false)
    val kids = idSession.partitionAndCreate("truncated", PureDPBudget(1.0),
      "event_type", Seq("clicks" -> "click", "purchases" -> "purchase"))
    for ((name, kid) <- kids.toSeq.sortBy(_._1)) {
      val n = kid.evaluate(QueryBuilder(name).count(), PureDPBudget(1.0))
        .collect().head.getLong(0)
      println(s"partition $name: noisy count $n (child budget spent independently)")
    }

    banner("10. Corpus pipeline: exact near-dup pairs and quality signals")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // prefix-filtered set-similarity join: exact Jaccard >= 0.5, no LSH
    graft.pipeline.Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .orderBy("id_a", "id_b").show(5)
    // Gopher-style repetition census, pure projections
    locally {
      import org.apache.spark.sql.functions._
      val t = graft.pipeline.TextAnalysis
      docs.agg(
        count(lit(1)).as("n_docs"),
        sum(when(t.repeatedNgramFraction(col("text"), 2) > 0.15, 1L)
          .otherwise(0L)).as("n_repetitive")).show()
    }

    banner("11. Decontamination and corpus heavy hitters")
    locally {
      import org.apache.spark.sql.functions._
      // flag training docs sharing any 8-gram with a (broadcast) eval set
      val blocklist = docs.filter(col("doc_id") % 100 === 0)
      val training = docs.filter(col("doc_id") % 100 =!= 0)
      val flagged = graft.pipeline.Dedup.contaminatedIds(
        training, "doc_id", "text", blocklist, "text", n = 8)
      println(s"contaminated documents: ${flagged.count()}")
      // exact top tokens, per-partition heaps -> driver merge, no global sort
      graft.pipeline.CorpusStats.topKTokens(docs, "text", k = 5).show()
    }

    banner("12. End-to-end training-corpus prep: scrub -> pack -> split")
    locally {
      import org.apache.spark.sql.functions._
      // scrub near-duplicates of the held-out set (LSH candidates, exact
      // Jaccard verification), then lay out 2048-token training chunks,
      // then a deterministic train/val split any engine can reproduce
      val heldOut = docs.filter(col("doc_id") % 7 === 0)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val scrubbed = graft.pipeline.Dedup.dedupAgainst(
        corpus, heldOut, "doc_id", "text")
      println(s"corpus ${corpus.count()} docs -> ${scrubbed.count()} after scrub")
      val withTokens = scrubbed.select(col("doc_id"),
        graft.pipeline.TextAnalysis.tokenCount(col("text")).as("ntok"))
      graft.pipeline.Packing.chunkProfile(withTokens, "doc_id", "ntok", 2048)
        .orderBy("chunk_id").show(3)
      graft.pipeline.Sampling.hashSplit(
          scrubbed, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
        .groupBy("split").agg(count(lit(1)).as("n")).orderBy("split").show()
    }

    banner("13. Clean, rebalance, export: strip boilerplate -> mix -> shards")
    locally {
      import org.apache.spark.sql.functions._
      // inject a synthetic banner so the corpus has line-level boilerplate
      // to find (real crawls arrive with it built in), strike every line
      // shared by >= 50 distinct docs, rebalance the language mix, and
      // write hash-sharded parquet in a reproducible pseudo-random order
      val noisy = docs.withColumn("text",
        concat(lit("SUBSCRIBE TO OUR NEWSLETTER\n"), col("text")))
      val cleaned = graft.pipeline.CorpusStats.stripBoilerplateLines(
        noisy, "doc_id", "text", minDocs = 50)
      println(s"lines struck: ${cleaned.agg(sum("n_removed")).head().getLong(0)}")
      val mixed = graft.pipeline.Sampling.mixtureUpsample(
        cleaned, "lang", "doc_id", Seq("zh" -> 2.0, "fr" -> 0.5))
      mixed.groupBy("lang").agg(count(lit(1)).as("n_after_mix"))
        .orderBy("lang").show()
      val outDir = java.nio.file.Files.createTempDirectory("graft_shards")
        .toString
      graft.sources.ShardedWriter.writeShards(
        mixed.withColumn("row_id",
          concat_ws("#", col("doc_id"), col("copy"))),
        "row_id", numShards = 4, outDir)
      val back = spark.read.parquet(outDir)
      println(s"exported ${back.count()} rows across " +
        s"${back.select("shard").distinct().count()} shards -> $outDir")
    }

    banner("14. Passage-level tooling: in-doc dedup, CDC chunks, windows")
    locally {
      import org.apache.spark.sql.functions._
      val t = graft.pipeline.TextAnalysis
      // repeated lines inside one document are struck map-side (keep-first);
      // then content-defined chunking cuts insertion-tolerant passages whose
      // hashes dedup across the corpus; sliding windows cut overlapping
      // retrieval-index spans. All three are shuffle-free projections.
      val looped = docs.withColumn("text",
        concat_ws("\n", col("text"), lit("-- sig --"), col("text"), lit("-- sig --")))
      val deduped = looped.select(col("doc_id"), t.dedupLines(col("text")).as("text"))
      val chunks = deduped.select(col("doc_id"), posexplode(
        graft.pipeline.Dedup.contentDefinedChunks(col("text")))
        .as(Seq("chunk_idx", "ch")))
      println(s"CDC chunks over the deduped corpus: ${chunks.count()} " +
        s"(${chunks.select("ch.hash").distinct().count()} distinct passages)")
      deduped.select(col("doc_id"), posexplode(
          t.slidingWindows(col("text"), 32, 16)).as(Seq("win_idx", "wtext")))
        .groupBy().agg(count(lit(1)).as("n_windows")).show()
      // contamination triage: per-doc matched-8-gram share vs an eval set,
      // for threshold-based dropping instead of q77-style any-hit removal
      val blocklist = docs.filter(col("doc_id") % 100 === 0)
      graft.pipeline.Dedup.contaminationScores(
          docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
          blocklist, "text", n = 8)
        .filter(col("overlap") > 0.05).orderBy(col("overlap").desc, col("doc_id"))
        .show(3)
    }

    banner("15. Multimodal: decode images, dedup by pixels/signal, sample video")
    locally {
      import org.apache.spark.sql.functions._
      val m = graft.pipeline.Multimodal
      // media payloads ride as binary columns; here we synthesize PNGs /
      // tones / animated GIFs so the demo is self-contained, but every
      // kernel below is a REAL codec (javax.imageio decode, PCM+DFT)
      val media = docs.limit(200).select(col("doc_id"),
        m.synthStripePng(lit(32), lit(24), pmod(col("doc_id"), lit(3)).cast("int"))
          .as("image"),
        m.synthTone(lit(256), (lit(4) * pow(lit(2.0), pmod(col("doc_id"), lit(3))))
          .cast("int")).as("audio"))
      val decoded = m.decodeImages(media, "image", featureDim = 8)
      decoded.select(col("doc_id"), col("decoded.width"), col("decoded.height"),
        col("decoded.format")).show(3)
      println("image groups by perceptual hash (pixels, not bytes):")
      m.dedupImagesByPhash(media, "doc_id", "image")
        .orderBy("representative_id").show()
      println("audio groups by spectral fingerprint (volume-invariant):")
      m.dedupAudioByFingerprint(media, "doc_id", "audio", windows = 4)
        .orderBy("representative_id").show()
      val gifs = docs.limit(50).select(col("doc_id"),
        m.synthGif(lit(16), lit(12), (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
          .as("clip"))
      val frames = m.sampleVideoFrames(gifs, "clip", maxFrames = 2, rebalance = false)
      println(s"sampled ${frames.count()} frames from 50 animated clips " +
        "(evenly spaced per container)")
    }

    banner("16. Similarity search: exact top-k, then the two scale paths")
    locally {
      import org.apache.spark.sql.functions._
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 3)
      println("brute force (small query set x any corpus):")
      graft.pipeline.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 2)
        .select("query_id", "corpus_id", "rank").orderBy("query_id", "rank").show()
      println("LSH multi-probe (both sides large; recall contract in AnnRecallSpec):")
      graft.pipeline.Similarity.lshTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 2)
        .select("query_id", "corpus_id", "rank").orderBy("query_id", "rank").show()
      println("IVF (train once, persist the cell assignment, probe cheaply):")
      val model = graft.pipeline.Ivf.train(emb, "embedding", nlist = 4)
      val assigned = graft.pipeline.Ivf.assignCells(emb, "vec_id", "embedding", model)
      graft.pipeline.Ivf.topKAssigned(assigned, queries, "vec_id", "embedding",
        k = 2, model, nprobe = 2)
        .select("query_id", "corpus_id", "rank").orderBy("query_id", "rank").show()
    }

    banner("17. Data selection: LM typicality, span dup, semantic dedup")
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      println("most/least typical docs under the corpus's own unigram LM:")
      val lm = graft.pipeline.CorpusStats.unigramLogProb(docs, "doc_id", "text")
      lm.orderBy(col("mean_nll_e6")).limit(2)
        .unionAll(lm.orderBy(col("mean_nll_e6").desc).limit(2)).show()
      println("span-duplication tail (boilerplate that survives doc dedup):")
      graft.pipeline.Dedup.spanDuplicationFraction(docs, "doc_id", "text")
        .orderBy(col("dup_fraction").desc, col("doc_id")).limit(3).show()
      println("BPE: one corpus pass -> word dict -> deterministic merges:")
      val bpe = graft.pipeline.Bpe.train(docs, "text", numMerges = 10)
      println(s"first merges: ${bpe.merges.take(5).mkString(", ")}")
      println("SemDeDup within label clusters at tau=0.42:")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val sd = graft.pipeline.Similarity.semanticDedup(
        emb, "vec_id", "label", "embedding", threshold = 0.42)
      println(s"kept ${sd.filter(col("kept")).count()} of ${sd.count()} vectors")
    }

    // every event column but the undecodable nanosecond `ts`, as steps 18
    // and 19 read it
    val eventLog = {
      import org.apache.spark.sql.types._
      spark.read.schema(StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))))
        .parquet(s"$sfDir/events.parquet")
    }

    banner("18. Layout + shuffle hygiene: skew report, z-order, top-k sketch")
    locally {
      import org.apache.spark.sql.functions._
      println("is user_id safe to shuffle on? (entropy_e6 ~ ln(n_keys)*1e6 = uniform)")
      graft.sources.Salting.keySkewReport(eventLog, "user_id").show()
      println("morton codes give every z column locality (layout: ZOrder.writeZOrdered):")
      eventLog.select(col("event_id"),
        graft.sources.ZOrder.zValue2(pmod(col("user_id"), lit(16)),
          pmod(col("event_id"), lit(16)), bits = 4).as("z"))
        .orderBy("event_id").limit(3).show()
      println("bounded-memory top event types (SpaceSaving, exact under capacity):")
      eventLog.agg(graft.exec.SpaceSaving.spaceSavingTopK(
        col("event_type"), capacity = 64, k = 3).as("top"))
        .select(explode(col("top"))).show(truncate = false)
    }

    banner("19. Temporal/interval joins and threshold release")
    locally {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      println("as-of join: each purchase with the user's latest PRIOR click")
      println("(one exchange + carry-forward window; no theta join):")
      val purchases = eventLog.where($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("t"), $"value".as("purchase_value"))
      val clicks = eventLog.where($"event_type" === "click")
        .select($"user_id", $"event_id".as("t"),
          $"event_id".as("click_id"), $"value".as("click_value"))
      graft.pipeline.Relational.asOfJoin(purchases, clicks, Seq("user_id"), "t")
        .orderBy("t").show(3)
      println("range join: value-in-interval as an equi-join on grid cells")
      println("(overlapping bands are general join semantics, not binning):")
      val bands = Seq(("small", 0.0, 10.0), ("large", 8.0, 100.0))
        .toDF("band", "lo", "hi")
      graft.pipeline.Relational.rangeJoin(
        eventLog.select($"event_id", $"value"), "value",
        bands, "lo", "hi", cellWidth = 10.0)
        .groupBy("band").count().orderBy("band").show()
      println("SVT AboveThreshold: identities of the first 2 event types over")
      println("2000 hits, eps total NOT growing with the number scanned:")
      val counts = eventLog.groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"))
      graft.exec.SparseVector.aboveThreshold(counts, "event_type", "n",
        threshold = 2000.0, maxPositives = 2, epsilon = 1.0).show()
    }

    println("\ndemo complete.")
  }
}
