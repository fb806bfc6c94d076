package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Materialize
import graft.exec.Materialize.Pin

/** Deduplication operators for corpus-scale pipelines. Design rule: never
  * form all pairs — candidates come from banded LSH buckets (shuffle keyed
  * on (band, bucket-hash) only), and buckets above a size cap are treated
  * as exact-dup clusters instead of pair sources, so the plan stays
  * near-linear in corpus size at 100 TB.
  */
object Dedup {

  /** Exact dedup: one representative row per distinct `keyCols` value, the
    * row with the smallest `idCol` (deterministic, order-independent).
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    Inputs.free(df, "exact", "__rn")
    val w = Window.partitionBy(keyCols.map(col).toIndexedSeq: _*)
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word k-gram shingle set of a text column (distinct, order ignored). */
  def shingles(c: Column, k: Int): Column = {
    val toks = TextAnalysis.words(c)
    array_distinct(
      when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(TextAnalysis.wordWindows(toks, size(toks) - k, k)))
  }

  /** Per-document span-duplication fraction — the ExactSubstr signal
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better") in its bounded, relational form: the fraction of a document's
    * word `k`-gram START POSITIONS whose k-gram occurs more than once in
    * the whole corpus (counting every occurrence, including repeats inside
    * one document). High values mark boilerplate and template text that
    * survives document-level dedup because the surrounding bytes differ.
    *
    * Unlike [[shingles]] this keeps positions and multiplicity — the same
    * k-gram twice in one document is two duplicated starts. Documents with
    * fewer than k tokens emit no row (they have no k-gram start).
    *
    * Scale shape: ONE pass generates the gram hashes — tokens hash once
    * each (8 bytes), and a k-gram's identity is the xxhash64 of its
    * token-hash slice, so no per-start string ever materializes and the
    * kernel is O(tokens * k) long-hashing, not O(tokens * k) string
    * building. Occurrence marking is a count window over the gram hash
    * (one hash-keyed shuffle — NOT a count aggregate joined back, which
    * would generate the gram stream twice and shuffle it twice); the
    * finale is the id-keyed per-document agg. Shuffles carry only
    * (hash, id) — never text. The 8-byte hash stands in for the k-gram
    * (a collision needs ~2^32 distinct grams to reach 1e-9 probability;
    * at larger corpora widen to a 16-byte md5 pair).
    */
  def spanDuplicationFraction(
      df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be positive")
    val toks = TextAnalysis.words(col(textCol))
    // guard BOTH emptiness and short docs: sequence(0, negative) would
    // count down, not produce an empty list. The token-hash array projects
    // in its own step so the split runs once per row; the gram step
    // references it twice (size + slice), which keeps CollapseProject from
    // re-inlining the split into every lambda evaluation.
    val tokenHashes = df
      .filter(length(trim(col(textCol))) > 0 && size(toks) >= k)
      .select(col(idCol), transform(toks, t => xxhash64(t)).as("__th"))
    val starts = tokenHashes.select(col(idCol), explode(
      transform(sequence(lit(0), size(col("__th")) - k),
        i => xxhash64(slice(col("__th"), i + 1, lit(k))))).as("__h"))
    starts
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("__h")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_starts"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_starts"))
      .withColumn("dup_fraction",
        col("n_dup_starts").cast("double") / col("n_starts").cast("double"))
  }

  /** JVM-side mirror of [[shingles]] over one non-null text: its words
    * ([[TextAnalysis.wordsOf]], lowercased with `lower`), k-gram join by one
    * space, distinct in first-seen order.
    */
  private def shingleArr(t: String, k: Int, lower: Boolean = false): Array[String] = {
    val toks = TextAnalysis.wordsOf(t, lower)
    if (toks.length < k) Array(toks.mkString(" "))
    else {
      val ws = java.util.Arrays.asList(toks: _*)
      Array.tabulate(toks.length - k + 1)(i => String.join(" ", ws.subList(i, i + k))).distinct
    }
  }

  /** [[shingleArr]] over lowercased text — the shingling kernel shared
    * with CorpusStats.ngramDocFrequency. NULL in, NULL out: the Catalyst
    * twin `shingles(lower(c), k)` is NULL on NULL text (every member of
    * its expression chain is null-propagating), and the two kernels must
    * agree on every input or swapping them changes results; both split
    * words by the one definition in [[TextAnalysis.words]], and
    * TextKernelTwinSpec runs them side by side.
    */
  private[pipeline] def lowerShingles(t: String, k: Int): Array[String] =
    if (t == null) null
    else shingleArr(t, k, lower = true)

  /** [[lowerShingles]] as a Column — the JVM-kernel twin of
    * `shingles(lower(c), k)` for hot paths: the declarative
    * transform/slice/concat_ws chain is an interpreted higher-order
    * function that re-evaluates its captured split per element (measured
    * ~2x slower on the documents table, the q71/q84 lesson).
    */
  def lowerShinglesCol(c: Column, k: Int): Column = {
    require(k >= 1, "shingle size must be positive")
    udf((t: String) => lowerShingles(t, k)).apply(c)
  }

  /** Spread compute-bound per-row work across every core when the upstream
    * scan produced fewer partitions (small files at test SF make one task do
    * all the hashing; a 100 TB scan already yields thousands of splits and
    * this is a no-op).
    */
  private[pipeline] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Estimate the scan's split count from optimizer stats instead of
    // df.rdd.getNumPartitions: touching .rdd materializes the whole physical
    // lineage per call just to read a number. Only file scans can arrive
    // under-partitioned (one split per small file) — in-memory relations and
    // post-shuffle inputs are already spread across the cluster, so they are
    // left untouched. bytes / maxPartitionBytes mirrors how FilePartition
    // packs non-bucketed scans: small files are rebalanced, a 100 TB scan
    // (more estimated splits than cores) is a no-op.
    val plan = df.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    val readsFiles = leaves.exists {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case _ => false
    }
    if (readsFiles) {
      val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
      val estSplits = plan.stats.sizeInBytes / splitBytes + 1
      if (estSplits < target) df.repartition(target) else df
    } else if (leaves.forall(l =>
        l.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] ||
        l.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])) {
      // purely in-memory inputs are usually parallelized already, but a
      // coalesce(1) / single-slice frame is not — probing .rdd here is fine
      // because these plans are small by construction
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    } else df // downstream of a shuffle: spark.sql.shuffle.partitions governs
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum hash over the shingle set (classic Broder minwise sketch).
    * One pass over the shingles: each shingle is hashed to 64 bits once,
    * then the i-th hash function is the affine mix a_i*h + b_i — the
    * standard universal-family trick, numHashes multiply-adds per shingle
    * instead of numHashes full string hashes.
    */
  private def signatureOf(shingles: Array[String], numHashes: Int): Array[Long] = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    shingles.foreach { s =>
      val h = shingleHash(s)
      var i = 0
      while (i < numHashes) {
        // splitmix64-style odd multiplier per function keeps the family
        // pairwise-independent enough for minwise sketching
        val m = h * (0x9e3779b97f4a7c15L + 2L * i) + (0xbf58476d1ce4e5b9L * i)
        if (m < mins(i)) mins(i) = m
        i += 1
      }
    }
    mins
  }

  /** 64-bit shingle hash: two seeded 32-bit murmurs over the string. */
  private def shingleHash(s: String): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b).toLong & 0xffffffffL)

  def minhashSignature(shingleSet: Column, numHashes: Int): Column = {
    val u = udf((shingles: Seq[String]) =>
      if (shingles == null) null
      else signatureOf(shingles.toArray, numHashes).toSeq)
    u(shingleSet)
  }

  /** Signature straight from the text column: shingling and sketching in
    * one kernel, skipping the intermediate string-array column.
    */
  def minhashSignatureText(text: Column, shingleSize: Int, numHashes: Int): Column = {
    val u = udf((t: String) =>
      if (t == null) null
      else signatureOf(shingleArr(t, shingleSize), numHashes).toSeq)
    u(text)
  }

  /** Banded bucket keys of a signature: `bands` hashes, each over a
    * contiguous signature slice of length numHashes/bands.
    */
  def bandHashes(signature: Column, numHashes: Int, bands: Int): Column = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): bands > hashes " +
        "makes every slice empty (one constant bucket per band — silently " +
        "ZERO pairs after the flood filter), and a non-divisible count " +
        "silently ignores the trailing hashes")
    val r = numHashes / bands
    array((0 until bands).map { j =>
      xxhash64(slice(signature, j * r + 1, r), lit(j))
    }: _*)
  }

  /** Candidate pairs (__a < __b) sharing at least one MinHash-LSH band
    * bucket. The only shuffle is keyed on (band, bucket-hash) — no cross
    * product anywhere. Buckets are gathered with [[graft.exec.BoundedCollect
    * boundedCollectList]], whose buffer stops at maxBucket + 1 elements:
    * a flood bucket (millions of ids sharing a band at corpus scale) costs
    * O(maxBucket) memory in its aggregation task instead of materializing
    * fully before the size filter discards it, and hitting the cap is
    * exactly the oversized signal.
    */
  private def minhashCandidates(
      sigs: DataFrame, numHashes: Int, bands: Int, maxBucket: Int): DataFrame = {
    val banded = sigs.select(col("__id"),
      posexplode(bandHashes(col("__sig"), numHashes, bands)).as(Seq("__band", "__bh")))
    val buckets = banded.groupBy("__band", "__bh")
      .agg(graft.exec.BoundedCollect.boundedCollectList(col("__id"), maxBucket + 1)
        .as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
    buckets
      .select(explode(col("__ids")).as("__a"), col("__ids"))
      .select(col("__a"), explode(col("__ids")).as("__b"))
      .filter(col("__a") < col("__b"))
      .select(col("__a"), col("__b")).distinct()
  }

  /** Near-dup pairs (idA < idB) from MinHash-LSH banding, scored by the
    * signature-agreement estimate of Jaccard similarity; pairs below
    * `threshold` are dropped. `maxBucket` caps pair generation per bucket —
    * larger buckets are exact-dup floods better handled by `exact` or
    * cluster assignment.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = Materialize.scoped { reuse =>
    // reused: the plan references the signatures from the candidate
    // buckets and both sides of the signature-score join — without the
    // cache the shingle+sketch kernel would rerun three times
    val sigs = reuse(spread(df).select(col(idCol).as("__id"),
      minhashSignatureText(col(textCol), shingleSize, numHashes).as("__sig")))
    val pairs = minhashCandidates(sigs, numHashes, bands, maxBucket)
    val sa = sigs.select(col("__id").as("__a"), col("__sig").as("__sa"))
    val sb = sigs.select(col("__id").as("__b"), col("__sig").as("__sb"))
    // pin the (small) scored pair set eagerly so the signature cache is
    // released when the scope ends rather than by the context cleaner
    pairs.join(sa, "__a").join(sb, "__b")
      .withColumn("jaccard_est",
        size(filter(zip_with(col("__sa"), col("__sb"), (x, y) => x === y),
          (m: Column) => m)).cast("double") / lit(numHashes.toDouble))
      .filter(col("jaccard_est") >= threshold)
      .select(col("__a").as("id_a"), col("__b").as("id_b"), col("jaccard_est"))
      .pin("Dedup.minhashPairs")
  }

  /** Candidate pairs from MinHash banding, verified by the exact n-gram
    * Jaccard — the canonical LSH dedup pipeline: banding prunes the pair
    * space to near-linear, the exact measure decides membership. Output is
    * (id_a, id_b, jaccard) with jaccard = |A∩B| / |A∪B| over word
    * shingles (an exact rational of two small ints — engine-portable).
    * Defaults use rows-per-band r = numHashes/bands = 2, so a pair at
    * threshold J=0.5 escapes every band with probability (1-J^2)^64 ≈ 1e-8
    * — the verified pair set equals the brute-force one w.h.p., at
    * near-linear cost.
    */
  def minhashPairsVerified(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 64, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    // NOT persisted: with bounded-collect bucket gathering the signatures
    // are referenced exactly once (verification re-reads the raw text), so
    // a cache would only add write overhead
    val sigs = spread(df).select(col(idCol).as("__id"),
      minhashSignatureText(col(textCol), shingleSize, numHashes).as("__sig"))
    val pairs = minhashCandidates(sigs, numHashes, bands, maxBucket)
    // verify against the raw text: shingles are recomputed only for the
    // (tiny) candidate set instead of materializing a second full
    // shingle-set pass for each join side
    val a = df.select(col(idCol).as("__a"), col(textCol).as("__ta"))
    val b = df.select(col(idCol).as("__b"), col(textCol).as("__tb"))
    pairs.join(a, "__a").join(b, "__b")
      .withColumn("jaccard", ngramJaccard(col("__ta"), col("__tb"), shingleSize))
      .filter(col("jaccard") >= threshold)
      .select(col("__a").as("id_a"), col("__b").as("id_b"), col("jaccard"))
  }

  /** Cluster assignment from near-dup pairs: every document maps to the
    * smallest id in its connected component (label propagation iterated to
    * a fixpoint, bounded by `maxIters`; near-dup components have tiny
    * diameter so a handful of iterations converges). Documents with no
    * near-dups map to themselves.
    */
  def minhashClusters(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 64, shingleSize: Int = 3,
      threshold: Double = 0.5, maxIters: Int = 16,
      verify: Boolean = true): DataFrame = {
    val pairs =
      if (verify)
        minhashPairsVerified(df, idCol, textCol, numHashes, bands, shingleSize, threshold)
      else minhashPairs(df, idCol, textCol, numHashes, bands, shingleSize, threshold)
    val labels = connectedComponents(pairs, "id_a", "id_b", maxIters)
    df.select(col(idCol).as("__id"))
      .join(labels.withColumnsRenamed(Map("id" -> "__id", "component" -> "__c")),
        Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__c"), col("__id")).as("cluster_id"))
  }

  /** Survivorship after near-dup clustering: from every cluster keep the
    * single best row — highest `scoreCol`, ties to the smallest id — and
    * release it with its cluster id and member count. The curation step
    * that turns a [[minhashClusters]] assignment into a deduplicated
    * corpus that keeps the BEST copy (longest, highest-quality, most
    * recent) instead of an arbitrary one; `n_members` preserves the
    * duplication multiplicity for mixture reweighting downstream.
    *
    * `clusters` is any (idCol, clusterCol) assignment — [[minhashClusters]]
    * output, [[Graph.labelPropagation]] communities, an exact group key.
    * A duplicate id in the assignment fails loudly (membership would be
    * ambiguous); a df row absent from the assignment keeps itself as a
    * singleton cluster (the [[minhashClusters]] every-doc-maps convention,
    * extended to partial assignments). NULL scores sort BELOW every
    * non-null score (explicitly, so an independent engine mirrors it).
    *
    * Scale shape: one id-keyed equi-join (the assignment is (id, cluster)
    * pairs — bounded width), then ONE cluster-keyed exchange serving both
    * the winner window and the member count. No self-join, nothing
    * quadratic; the duplicate-id guard is an inline raise_error window on
    * the assignment's own id exchange — zero extra actions.
    */
  def survivorship(
      df: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame, clusterCol: String = "cluster_id"): DataFrame = {
    Inputs.present(df, "input", idCol, scoreCol)
    Inputs.present(clusters, "cluster assignment", idCol, clusterCol)
    Inputs.free(df, "survivorship", "__clu", "__rn", "__dupn", "n_members")
    require(!df.columns.contains(clusterCol),
      s"input already has a column named '$clusterCol' (the output cluster " +
        "column) — the release would carry the name twice; rename one")
    // duplicate-id guard INLINE in the single join pass (the probe-
    // consolidation discipline): a count window over the bounded-width
    // assignment keyed on id rides the same id-keyed exchange the join
    // needs anyway, so the guard costs no extra action — and the
    // assignment's (typically expensive candidate+verify) lineage is
    // evaluated exactly ONCE, with no persist to leak (the r13 version
    // persisted for a separate probe and never unpersisted)
    val cluType = clusters.schema(clusterCol).dataType
    val assign = clusters.select(col(idCol), col(clusterCol).as("__clu"))
      .withColumn("__dupn",
        count(lit(1)).over(Window.partitionBy(col(idCol))))
      .select(col(idCol),
        when(col("__dupn") > 1L,
          raise_error(concat(
            lit(s"survivorship: duplicate $idCol in the cluster " +
              "assignment ("),
            col(idCol).cast("string"),
            lit(") — membership would be ambiguous"))).cast(cluType))
          .otherwise(col("__clu")).as("__clu"))
    val joined = df.join(assign, Seq(idCol), "left")
      .withColumn("__clu", coalesce(col("__clu"), col(idCol)))
    val w = Window.partitionBy(col("__clu"))
    val wr = w.orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    joined
      .withColumn("__rn", row_number().over(wr))
      .withColumn("n_members", count(lit(1)).over(w))
      .where(col("__rn") === 1)
      .select(df.columns.toIndexedSeq.map(col) ++
        Seq(col("__clu").as(clusterCol), col("n_members")): _*)
  }

  /** Edge-count cutoff below which connected components run as a
    * driver-side union-find: near-dup graphs are sparse (edges ~ number of
    * duplicates, not corpus size), so even a 100 TB corpus usually lands
    * under it — and the iterative join/agg job storm collapses into one
    * collect. Mirrors the keyset in-memory cross-join fold cutoff.
    */
  val InMemoryEdgeCutoff: Long = 1L << 22

  /** Connected components over an edge list, returning (id, component)
    * where component = smallest vertex id in the component (vertices exist
    * only where edges do). Small edge sets (<= `inMemoryCutoff`) collapse
    * into one driver-side union-find collect; past it, DataFrame-native
    * min-label propagation WITH POINTER JUMPING runs: each round a vertex
    * takes the min of its label, its neighbors' labels, and its label's
    * label (the shortcut that contracts chains geometrically), so
    * convergence is O(log diameter) rounds — not O(diameter), which on a
    * 100M-edge near-dup graph with a few deep chains would either need
    * unbounded rounds or, worse, stop early with silently wrong labels.
    * Non-convergence within `maxIters` throws rather than mislabels;
    * the default 16 covers any diameter up to ~2^16.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String, maxIters: Int = 16,
      inMemoryCutoff: Long = InMemoryEdgeCutoff): DataFrame = Materialize.scoped { reuse =>
    // The edge list is typically the output of an expensive candidate+verify
    // pipeline: reuse it so the size probe, the collect (small case), and
    // the propagation loop (large case) all run that pipeline exactly once.
    // The probe is a count — no edge rows reach the driver unless the edge
    // set is small enough for the union-find path.
    val pairs = reuse(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val edgeCount = pairs.count()
    // the small path is only valid when the LARGE path's semantics can be
    // reproduced exactly: ids must be integral longs (the union-by-MIN
    // labeling needs an order, and the released schema must not depend on
    // which path ran — pre-r13 a string-id edge list crashed getLong here
    // while succeeding above the cutoff)
    val longIds = Seq(pairs.schema(0).dataType, pairs.schema(1).dataType)
      .forall(_ == org.apache.spark.sql.types.LongType)
    if (edgeCount <= inMemoryCutoff && longIds) {
      val sample = pairs.collect() // from cache
      val spark = edges.sparkSession
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      val verts = scala.collection.mutable.Set.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      sample.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        verts += a; verts += b
        val (ra, rb) = (find(a), find(b))
        // union-by-min keeps every tree rooted at its component's smallest
        // id, so find() returns the canonical label directly
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import spark.implicits._
      verts.toSeq.map(v => (v, find(v))).toDF("id", "component")
    } else {
      val e = reuse(pairs
        .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
      // localCheckpoint (not cache) per round: the pointer-jump self-join
      // references the label table twice, so an un-truncated logical plan
      // would double every iteration — checkpointing pins each round's rows
      // AND resets the lineage to a leaf
      var labels = e.select(col("src").as("id")).distinct()
        .withColumn("component", col("id"))
        .pin("Dedup.connectedComponents labels")
      var iter = 0
      var converged = false
      while (iter < maxIters && !converged) {
        val incoming = e.join(labels.withColumnsRenamed(Map("id" -> "src")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min("component").as("__in"))
        // pointer jump: follow my label to ITS label — chains contract
        // geometrically, so deep components converge in O(log diameter)
        val jump = labels.select(col("id").as("component"), col("component").as("__jp"))
        // the convergence flag rides the round's own select (newComp is the
        // same `least`, compared against the incoming component) — the old
        // probe JOINED next against labels, a full extra join job per round;
        // now the round's pin job counts the flag as it writes the rows, so
        // the check costs no job at all
        val newComp = least(col("component"),
          coalesce(col("__in"), col("component")),
          coalesce(col("__jp"), col("component")))
        val next = Materialize(labels
          .join(incoming, Seq("id"), "left")
          .join(jump, Seq("component"), "left")
          .select(col("id"), newComp.as("__nc"),
            (newComp =!= col("component")).as("__chg")),
          s"Dedup.connectedComponents round ${iter + 1}", Some("__chg"))
        labels = next.df.select(col("id"), col("__nc").as("component"))
        converged = next.flagged == 0L
        iter += 1
      }
      if (!converged) {
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIters rounds " +
            "(component diameter exceeds ~2^maxIters under pointer jumping); " +
            "raise maxIters — labels from a stopped-early propagation would " +
            "be silently wrong")
      }
      labels
    }
  }

  /** 64-bit SimHash of the token multiset: bit b of the result is the sign
    * of the sum over tokens of (+-1) at bit b of the token hash. The token
    * hash is the first 8 bytes of md5 (big-endian, = the first 16 hex chars
    * of the digest) — md5 is engine-portable, so the signature is
    * reproducible bit-for-bit outside the JVM.
    */
  def simhash64(c: Column): Column = {
    // NULL in, NULL out (the minhashSignatureText convention): mapping a
    // null token set to signature 0L would make EVERY null-text document
    // an exact hamming-0 twin of every other — a quadratic flood of
    // semantically wrong pairs through the band survivors
    val u = udf((toks: Seq[String]) => {
      if (toks == null) null
      else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val acc = new Array[Int](64)
      toks.foreach { t =>
        val digest = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.reset()
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
        var b = 0
        while (b < 64) {
          acc(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
      java.lang.Long.valueOf(out)
      }
    })
    u(TextAnalysis.wordsLower(c))
  }

  /** Near-dup pairs by SimHash with full recall at near-linear cost.
    *
    * Level 0 bands the 64 bits into four 16-bit chunks: any pair within
    * Hamming distance 3 differs in at most 3 chunks, so it agrees on at
    * least one (pigeonhole). Buckets up to `maxBucket` generate candidate
    * pairs directly (a self-equi-join keyed on the bucket, never a cross
    * product). An OVERSIZED bucket — only 4*65536 distinct chunk keys exist,
    * so bucket size grows linearly with corpus size and O(bucket^2) pair
    * generation would be quadratic at scale — is not dropped (that loses
    * recall) and not paired (that loses the linear bound): its members are
    * re-banded on a *different* disjoint 4-way partition of the 64 bits.
    * Within the parent bucket the pair still has <= 3 differing bits, so by
    * the same pigeonhole it agrees on one of the new sub-chunks; each level
    * adds ~12 discriminating bits to the bucket key. After the last level
    * pairs are emitted regardless of bucket size: members then agree on
    * >= 37 of 64 bits, so any remaining large bucket is a genuine near-dup
    * flood whose quadratic pair count is the true answer size.
    *
    * The Hamming filter runs BEFORE the dedup distinct, so the distinct
    * shuffle carries only true near-dup pairs, not every candidate.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = Materialize.scoped { reuse =>
    require(maxHamming <= 3,
      "4-way banding guarantees full recall only for maxHamming <= 3")
    // Reuse the signatures: they are 16 bytes/doc but cost an md5 per
    // token to compute, and the multi-level plan references them from the
    // per-level size aggregation AND both sides of each pair self-join —
    // uncached, the kernel would rerun O(levels * joins) times. Every cache
    // taken here is released when the scope ends, after the pin below.
    val sh = reuse(spread(df)
      .select(col(idCol).as("__id"), simhash64(col(textCol)).as("__sh"))
      .where(col("__sh").isNotNull)) // null text: no signature, no pairs

    // Disjoint 4-way partitions of the 64 signature bits, one per level:
    // contiguous 16-bit chunks, then bit-stride-4, then nibble-stride-16.
    // Successive partitions overlap any fixed chunk in at most 4 bits, so
    // each re-banding adds >= 12 fresh bits to the bucket key.
    val levelMasks: Seq[Seq[Long]] = Seq(
      (0 until 4).map(j => 0xffffL << (16 * j)),
      (0 until 4).map(r => 0x1111111111111111L << r),
      (0 until 4).map(r => 0x000f000f000f000fL << (4 * r)))

    def banded(rows: DataFrame, masks: Seq[Long], parent: Column): DataFrame =
      rows.select(col("__id"), col("__sh"),
        explode(array(masks.zipWithIndex.map { case (m, j) =>
          xxhash64(parent, lit(j), col("__sh").bitwiseAND(lit(m)))
        }: _*)).as("__key"))

    def pairsOf(rows: DataFrame): DataFrame = {
      val l = rows.select(col("__key"), col("__id").as("id_a"), col("__sh").as("__sha"))
      val r = rows.select(col("__key"), col("__id").as("id_b"), col("__sh").as("__shb"))
      l.join(r, Seq("__key")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("__sha").bitwiseXOR(col("__shb"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }

    var frontier = reuse(banded(sh, levelMasks.head, lit(0L)))
    var out: DataFrame = null
    var l = 0
    var done = false
    while (l < levelMasks.length && !done) {
      // bucket sizes via map-side-combinable agg (never collect_list on an
      // unbounded bucket), joined back to route rows by size
      val sizes = reuse(frontier.groupBy("__key").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2))
      val withN = frontier.join(sizes, "__key")
      val last = l == levelMasks.length - 1
      // cheap driver probe on the (reused) per-bucket counts: in the
      // common case nothing is oversized and the deeper levels' shuffle DAG
      // is never built at all
      val anyOver = !last && !sizes.filter(col("__n") > maxBucket).isEmpty
      val ready = if (anyOver) withN.filter(col("__n") <= maxBucket) else withN
      val lvlPairs = pairsOf(ready.drop("__n"))
      out = if (out == null) lvlPairs else out.unionAll(lvlPairs)
      if (anyOver) {
        val over = withN.filter(col("__n") > maxBucket)
          .select(col("__key"), col("__id"), col("__sh"))
        frontier = reuse(banded(over, levelMasks(l + 1), col("__key")))
      } else done = true
      l += 1
    }
    // a qualifying pair can surface under several chunk keys and levels.
    // Pin the (small) result eagerly so every intermediate cache is
    // released when the scope ends instead of by the context cleaner —
    // repeated pipeline runs in a long-lived session must not accumulate
    // stale blocks in executor storage.
    out.distinct().pin("Dedup.simhashPairs")
  }

  /** Exact n-gram Jaccard similarity of two text columns (for verifying LSH
    * candidates or small cross products). One tight JVM kernel per pair:
    * the equivalent Catalyst tree materializes each side's shingle array
    * twice (intersect + union) and is too large for whole-stage codegen,
    * which made it ~100x slower per row.
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val u = udf((ta: String, tb: String) => {
      if (ta == null || tb == null) null
      else {
        val sa = shingleArr(ta, n)
        val sb = shingleArr(tb, n)
        val set = new java.util.HashSet[String](sa.length * 2)
        sa.foreach(set.add)
        var inter = 0
        sb.foreach(s => if (set.contains(s)) inter += 1)
        // sa/sb are distinct, so |A∪B| = |A| + |B| - |A∩B|
        java.lang.Double.valueOf(
          inter.toDouble / (sa.length + sb.length - inter).toDouble)
      }
    })
    u(a, b)
  }

  /** Exact n-gram Jaccard near-dup pairs via prefix filtering (the
    * AllPairs/PPJoin family): every pair with Jaccard >= `threshold` is
    * returned — no LSH approximation — yet the plan never forms all pairs.
    *
    * Candidates come from a self-join on *prefix* tokens under a global
    * rarest-first ordering: with prefix length |X| - ceil(t*|X|) + 1, any
    * pair at threshold t shares its globally-smallest common shingle inside
    * both prefixes (if all shared shingles sat outside X's prefix, the
    * overlap would be <= ceil(t*|X|) - 1 < t*|X| <= |X ∩ Y| — contradiction),
    * so recall is exactly 1. Ordering by ascending document frequency makes
    * prefix tokens the *rare* ones, which bounds join-bucket sizes: a stop
    * shingle shared by millions of documents is indexed by (almost) none of
    * their prefixes. Candidates are verified with the exact Jaccard kernel
    * before release.
    *
    * Shuffles: token-frequency agg, freq join + per-doc window (keyed on
    * doc), prefix self-join (keyed on rare tokens), pair distinct — each
    * keyed on a different natural key, all near-linear in corpus size.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = Materialize.scoped { reuse =>
    // single JVM kernel per row for the shingle set: the Catalyst
    // `shingles` tree re-evaluates its captured split per lambda element
    // (interpreted higher-order functions have no subexpression
    // elimination), which is O(tokens^2) string work per document —
    // measured 5x slower than the kernel on the documents table. The
    // kernel mirrors `shingles` exactly (TextKernelTwinSpec asserts it) but
    // emits 64-bit shingle HASHES, not strings: the frequency aggregate,
    // per-doc prefix window, and prefix self-join all shuffle and compare
    // 8-byte longs instead of ~25-byte gram strings. A hash collision can
    // only merge two shingles (odds ~|vocab|^2 / 2^64, ~1e-8 here), which
    // adds a candidate or shifts the tie-break order — never drops a true
    // pair past the exact-verify stage's recall.
    val shUdf = udf((t: String) => if (t == null) null else {
      val out = shingleArr(t, n).map(shingleHash)
      java.util.Arrays.sort(out)
      out
    })
    // reused: the sorted shingle-hash sets feed the token index AND both
    // sides of the verify join — ~a dozen longs per document, far cheaper
    // to cache than to re-shingle (the verify stage previously re-shingled
    // raw text once per candidate SIDE, ~50x per document on vocabularies
    // where the prefix join is collision-heavy — it was 60% of the plan)
    val docs = reuse(spread(df).select(col(idCol).as("__id"),
      shUdf(col(textCol)).as("__sh")))
    val toks = reuse(docs.select(col("__id"), size(col("__sh")).as("__len"),
      explode(col("__sh")).as("__tok")))
    val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // rank tokens per document under the global (rarity, token) order and
    // keep only the prefix that the threshold cannot skip past
    // All three pruning bounds subtract a 1e-9 guard before ceil/compare:
    // the exact bounds are rationals, and a double product that rounds just
    // ABOVE an exact integer would shorten a prefix or drop a boundary
    // candidate — a recall hole. The guard errs toward keeping candidates
    // (values in play are small integers, so 1e-9 cannot cross between
    // non-equal integers), and the exact verify stage discards the extras.
    val w = Window.partitionBy("__id").orderBy(col("__df"), col("__tok"))
    val prefix = reuse(toks.join(freq, "__tok")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <=
        col("__len") - ceil(lit(threshold) * col("__len") - lit(1e-9)) + lit(1))
      .select(col("__tok"), col("__id"), col("__len"), col("__rn")))
    // PPJoin-style pruning, both exact:
    //  - length filter: J >= t forces t*|b| <= |a| (and symmetrically);
    //  - positional filter: a qualifying pair's globally-smallest shared
    //    token w lies in both prefixes, and every other shared token sorts
    //    after w in BOTH lists, so the true overlap is at most
    //    1 + min(|a|-rn_a, |b|-rn_b) — which must reach the Jaccard
    //    overlap bound ceil(t/(1+t) * (|a|+|b|)). Vocabulary-collision
    //    pairs (one common shingle deep in both prefixes) die here
    //    instead of flooding the verify stage.
    val minOverlap = ceil(lit(threshold / (1.0 + threshold)) *
      (col("a.__len") + col("b.__len")) - lit(1e-9))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.__tok") === col("b.__tok") && col("a.__id") < col("b.__id") &&
          col("a.__len") >= lit(threshold) * col("b.__len") - lit(1e-9) &&
          col("b.__len") >= lit(threshold) * col("a.__len") - lit(1e-9) &&
          lit(1) + least(col("a.__len") - col("a.__rn"),
            col("b.__len") - col("b.__rn")) >= minOverlap)
      .select(col("a.__id").as("__a"), col("b.__id").as("__b"))
      .distinct()
    val ta = docs.select(col("__id").as("__a"), col("__sh").as("__sa"))
    val tb = docs.select(col("__id").as("__b"), col("__sh").as("__sb"))
    // exact verify on the cached sorted hash sets: one merge-walk per
    // candidate (the jaccard double is a ratio of small ints, identical to
    // the string-set formulation whenever the hashes are collision-free)
    val jac = udf((a: Array[Long], b: Array[Long]) => {
      if (a == null || b == null) null
      else {
        var i = 0
        var j = 0
        var inter = 0
        while (i < a.length && j < b.length) {
          if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
          else if (a(i) < b(j)) i += 1
          else j += 1
        }
        java.lang.Double.valueOf(
          inter.toDouble / (a.length + b.length - inter).toDouble)
      }
    })
    // pin the (near-dup-sized) verified pair set eagerly so the caches are
    // released when the scope ends rather than by the context cleaner
    cand.join(ta, "__a").join(tb, "__b")
      .withColumn("jaccard", jac(col("__sa"), col("__sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("__a").as("id_a"), col("__b").as("id_b"), col("jaccard"))
      .pin("Dedup.ngramJaccardPairs")
  }

  /** Benchmark decontamination: the ids of `docs` rows sharing at least one
    * word `n`-gram (case-folded) with any document in `blocklist` — the
    * standard "remove eval-set contamination from training data" pass,
    * n=8..13 in published pipelines. The blocklist (benchmark suites: a few
    * MB) broadcasts; each scan task probes its documents' shingles against
    * the resident set, so the 100-TB side never shuffles its text — the
    * only exchange is the distinct over matched ids. Spark additionally
    * turns the broadcast semi-join into a runtime bloom/IN filter under
    * AQE, which is exactly the classic bloom-decontamination design.
    */
  def contaminatedIds(
      docs: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, blockTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    val docGrams = spread(docs).select(col(idCol),
      explode(lowerShinglesCol(col(textCol), n)).as("__g"))
    val blockGrams = blocklist
      .select(explode(lowerShinglesCol(col(blockTextCol), n)).as("__g"))
      .distinct()
    docGrams.join(broadcast(blockGrams), Seq("__g"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Exact incremental dedup: the rows of `batch` whose canonical
    * fingerprint ([[TextAnalysis.fingerprint]]: case-folded,
    * whitespace-collapsed md5) appears nowhere in `history` — the
    * ingest-time companion of [[exact]]: dedup the new increment against
    * everything already accepted. Plan shape: history reduces map-side to
    * DISTINCT 16-byte fingerprints before its one keyed exchange (its text
    * never shuffles), and the left-anti join keys on the fingerprint. For
    * a history probed once per small batch, prefer building a
    * [[fingerprintBloom]] once and filtering batches with
    * [[bloomAgainst]] — one history pass amortized across every batch.
    */
  def exactAgainst(
      batch: DataFrame, history: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    Inputs.free(batch, "exactAgainst", "__fp")
    val fp = TextAnalysis.fingerprint(col(textCol))
    batch.withColumn("__fp", fp)
      .join(history.select(fp.as("__fp")).distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** One-pass Bloom sketch of a corpus's canonical text fingerprints —
    * build once over the full history (distributed partial sketches,
    * driver merge; ~1.2 GB at fpp 1e-3 for 10^9 documents), then filter
    * any number of ingest batches against it with [[bloomAgainst]] without
    * touching history again. False positives drop at most ~fpp of genuinely
    * fresh documents (tested); false negatives cannot occur, so no
    * duplicate ever survives.
    */
  def fingerprintBloom(
      df: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 1e-3): org.apache.spark.util.sketch.BloomFilter =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .stat.bloomFilter("__fp", expectedItems, fpp)

  /** The probe side of [[fingerprintBloom]]: `batch` rows whose fingerprint
    * the sketch has definitely never seen. A broadcast-closure filter —
    * pure map-side, zero shuffle, no read of the history corpus.
    */
  def bloomAgainst(
      batch: DataFrame, bloom: org.apache.spark.util.sketch.BloomFilter,
      textCol: String): DataFrame = {
    val bc = batch.sparkSession.sparkContext.broadcast(bloom)
    val fresh = udf((fp: String) => fp != null && !bc.value.mightContainString(fp))
    batch.filter(fresh(TextAnalysis.fingerprint(col(textCol))))
  }

  /** One content-defined chunk: 1-based token start, token count, and the
    * md5 of the space-joined chunk tokens.
    */
  final case class CdcChunk(start: Int, len: Int, hash: String)

  /** Content-defined chunking over whitespace tokens (the FastCDC/rsync
    * idea applied to text): a chunk boundary falls after every token
    * position whose k-gram rolling hash is ≡ 0 mod `divisor`, so boundaries
    * — and therefore chunk identity — depend only on local content.
    * Inserting or deleting a sentence shifts every fixed-window chunk after
    * it, but re-synchronizes CDC chunks within one gram: chunk-hash dedup
    * across a 100 TB corpus then finds shared passages regardless of where
    * they sit in the document. Expected chunk length ≈ `divisor` tokens;
    * documents shorter than one gram form a single chunk; blank text yields
    * none. The hash arithmetic is the winnowing kernel's (md5-derived token
    * hashes mod 2^31-1, base-131 fold — reproduces bit-for-bit in SQL
    * engines), and runs in one JVM pass per row (file header: higher-order
    * Catalyst functions are interpreted). Returns array<struct<start, len,
    * hash>>; the posexplode that follows is map-side — zero shuffle.
    */
  def contentDefinedChunks(
      c: Column, k: Int = 4, divisor: Long = 64L): Column = {
    require(k >= 1, "gram size must be positive")
    require(divisor >= 1L, "divisor must be positive")
    val u = udf((toks: Seq[String]) => {
      if (toks == null || toks.isEmpty || (toks.length == 1 && toks.head.isEmpty))
        Seq.empty[CdcChunk]
      else {
        val n = toks.length
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(d: Array[Byte]): String = {
          val sb = new java.lang.StringBuilder(d.length * 2)
          var i = 0
          while (i < d.length) { sb.append(f"${d(i) & 0xff}%02x"); i += 1 }
          sb.toString
        }
        // shared kernel (RollingHash): md5-derived token hashes + base-131
        // gram fold — ONE definition with winnowingFingerprints so the
        // oracle-load-bearing constants cannot drift between the operators
        val th = RollingHash.tokenHashes(toks)
        // 1-based token index of each boundary (a gram's last token)
        val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
        if (n >= k) {
          var j = 0
          while (j <= n - k) {
            if (RollingHash.gramHash(th, j, k) % divisor == 0L) ends += (j + k)
            j += 1
          }
        }
        if (ends.isEmpty || ends.last < n) ends += n
        var prev = 0 // last token (1-based) of the previous chunk
        ends.map { e =>
          val chunkToks = toks.slice(prev, e)
          val h = hex(md.digest(
            chunkToks.mkString(" ").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          md.reset()
          val out = CdcChunk(prev + 1, e - prev, h)
          prev = e
          out
        }.toSeq
      }
    })
    u(TextAnalysis.words(c))
  }

  /** Per-document contamination score: for each `docs` row, how many of its
    * distinct case-folded word `n`-grams appear anywhere in `blocklist`
    * (and the matched fraction). [[contaminatedIds]]'s binary flag is the
    * remove-list; this is the triage view — published pipelines drop on
    * overlap above a threshold rather than on any single shared n-gram.
    * Same plan shape as the flag: the blocklist broadcasts, the corpus
    * never shuffles its text, and the per-document counts aggregate with
    * map-side partial combine on the natural `idCol` key. The fraction is
    * a ratio of two small ints, so the double is engine-portable.
    *
    * NULL-text docs are EXCLUDED from the output (no grams, no row — the
    * [[spanDuplicationFraction]] convention): join the score table back
    * LEFT if every corpus row must survive scoring.
    */
  def contaminationScores(
      docs: DataFrame, idCol: String, textCol: String,
      blocklist: DataFrame, blockTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, "shingle size must be positive")
    val docGrams = spread(docs).select(col(idCol),
      explode(lowerShinglesCol(col(textCol), n)).as("__g"))
    val blockGrams = blocklist
      .select(explode(lowerShinglesCol(col(blockTextCol), n)).as("__g"))
      .distinct()
    docGrams
      .join(broadcast(blockGrams.withColumn("__hit", lit(1L))), Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum("__hit"), lit(0L)).as("n_matched"))
      .withColumn("overlap",
        col("n_matched").cast("double") / col("n_grams").cast("double"))
  }

  /** Cross-corpus near-dup matches: for each `corpus` document, the
    * `reference` documents (eval/benchmark sets, an earlier crawl, a held
    * -out split) whose exact word-shingle Jaccard reaches `threshold` —
    * the "scrub training data against the eval set" pass at similarity
    * level, complementing [[contaminatedIds]]'s exact-n-gram containment.
    * Output is (id, ref_id, jaccard), exact Jaccard as in
    * [[minhashPairsVerified]].
    *
    * Shape at scale: both sides are MinHash-banded; candidates come from
    * an equi-join on (band, bucket), keyed so the 100-TB corpus shuffles
    * 8-byte band hashes, never text — and when the reference side is
    * small (the common case) AQE turns that join into a broadcast, so
    * corpus text is only re-read for the tiny verified candidate set.
    * Recall follows the r = 2 banding bound (a J >= 0.5 pair escapes all
    * 64 bands with probability (1 - J^2)^64 ~ 1e-8). Reference buckets
    * are gathered with a bounded buffer and dropped past `maxBucket`
    * rids, as in [[minhashPairsVerified]]: a band shared by thousands of
    * reference docs is an exact-dup clique in the REFERENCE — dedup the
    * reference first ([[exact]] / [[minhashClusters]]) rather than pay a
    * quadratic candidate flood per corpus hit.
    */
  def crossCorpusMatches(
      corpus: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 64, shingleSize: Int = 3,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    // the signature must land behind its own projection boundary before
    // bandHashes references it `bands` times: CollapseProject refuses to
    // inline a non-cheap expression (the ScalaUDF) into multiple consumers,
    // so the kernel runs once per row. Inlining the UDF call directly into
    // bandHashes instead duplicates the whole shingle+sketch kernel into
    // every band slice — measured 64x per-row work (8 s vs 0.2 s banding
    // the sf0.1 corpus).
    def banded(df: DataFrame, id: String) = spread(df)
      .select(col(idCol).as(id),
        minhashSignatureText(col(textCol), shingleSize, numHashes).as("__sig"))
      .select(col(id),
        posexplode(bandHashes(col("__sig"), numHashes, bands))
          .as(Seq("__band", "__bh")))
    val refBuckets = banded(reference, "__rid").groupBy("__band", "__bh")
      .agg(graft.exec.BoundedCollect.boundedCollectList(col("__rid"), maxBucket + 1)
        .as("__rids"))
      .filter(size(col("__rids")) <= maxBucket)
    val cand = banded(corpus, "__id").join(refBuckets, Seq("__band", "__bh"))
      .select(col("__id"), explode(col("__rids")).as("__rid")).distinct()
    val a = corpus.select(col(idCol).as("__id"), col(textCol).as("__ta"))
    val b = reference.select(col(idCol).as("__rid"), col(textCol).as("__tb"))
    cand.join(a, "__id").join(b, "__rid")
      .withColumn("jaccard", ngramJaccard(col("__ta"), col("__tb"), shingleSize))
      .filter(col("jaccard") >= threshold)
      .select(col("__id").as("id"), col("__rid").as("ref_id"), col("jaccard"))
  }

  /** `corpus` minus every document near-duplicate to the `reference` set:
    * an anti-join against [[crossCorpusMatches]]'s matched ids.
    */
  def dedupAgainst(
      corpus: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 64, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // the matched id set is tiny (it bounds the scrub's removals); pin it
    // eagerly so the anti-join broadcasts a materialized list instead of
    // re-planning the whole match pipeline inside the join
    val matched = crossCorpusMatches(corpus, reference, idCol, textCol,
      numHashes, bands, shingleSize, threshold)
      .select(col("id").as(idCol)).distinct()
      .pin("Dedup.dedupAgainst matches")
    corpus.join(broadcast(matched), Seq(idCol), "left_anti")
  }

  /** Near-dup pairs in embedding space: random-hyperplane LSH signature
    * (deterministic pseudo-random planes), bucket on 8-bit bands, verify
    * exact cosine >= threshold via a codegen'd dot product.
    */
  def embeddingCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 16, maxBucket: Int = 256): DataFrame = {
    val sig = hyperplaneSignature(col(vecCol), planes)
    val vecs = spread(df).select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"), sig.as("__sig"))
    val bandCount = planes / 8
    val banded = vecs.select(col("__id"), col("__v"),
      posexplode(array((0 until bandCount).map(j =>
        shiftright(col("__sig"), j * 8).bitwiseAND(lit(0xffL))): _*))
        .as(Seq("__band", "__bk")))
    cosineVerifyBuckets(banded, threshold, maxBucket)
  }

  /** Exhaustive-coverage variant of [[embeddingCosinePairs]] — the
    * self-join limit of probing every bucket, the same way nprobe = nlist
    * makes IVF exhaustive — so the candidate set structurally contains
    * every pair and the output provably equals the brute-force pair set.
    * It runs the SAME bounded-collect / pair-explode / cosine-verify /
    * distinct plumbing as the banded path, which is the point: it is the
    * oracle anchor that pins that machinery's semantics for the driver
    * gate, the role [[Ivf.topK]] at nprobe = nlist plays for IVF.
    *
    * Coverage is distributed by TRIANGLE BLOCKING rather than one flood
    * bucket: rows hash into `blocks` blocks and each row joins the bucket
    * of every unordered block pair involving its block, so a pair with
    * blocks (i, j) co-occurs in bucket (min, max) by construction — recall
    * 1 structurally, with the O(n^2) verification spread over
    * blocks*(blocks+1)/2 independent tasks of O((n/blocks)^2) work each
    * (same-block pairs co-occur in several buckets; the trailing distinct
    * already dedups band collisions). Total work is still quadratic —
    * exhaustive by definition — so `maxCorpusRows` is enforced up front;
    * past it use the banded [[embeddingCosinePairs]], the sub-quadratic
    * path.
    */
  def embeddingCosinePairsExhaustive(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      maxCorpusRows: Int = 1 << 14, blocks: Int = 16): DataFrame = {
    require(blocks >= 1 && blocks <= 1024,
      s"blocks must be in [1, 1024], got $blocks")
    val cnt = df.count()
    require(cnt <= maxCorpusRows,
      s"embeddingCosinePairsExhaustive verifies all ~n^2/2 pairs of $cnt " +
        s"rows (bound $maxCorpusRows); it exists to anchor the banded " +
        "path's semantics at test scale — use embeddingCosinePairs, the " +
        "sub-quadratic banded path, for corpora past the bound")
    val b = blocks
    val banded = spread(df).select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"),
      pmod(xxhash64(col(idCol)), lit(b)).cast("int").as("__blk"))
      .select(col("__id"), col("__v"), lit(0).as("__band"),
        explode(transform(sequence(lit(0), lit(b - 1)), j =>
          (least(col("__blk"), j) * b + greatest(col("__blk"), j))
            .cast("long"))).as("__bk"))
    cosineVerifyBuckets(banded, threshold, maxCorpusRows)
  }

  /** Shared verify stage of the embedding-pair paths: gather each
    * (band, bucket) with a bounded buffer, explode the per-bucket pair
    * square above the id diagonal, score with the codegen'd cosine, filter,
    * and only then dedup band collisions.
    */
  private def cosineVerifyBuckets(
      banded: DataFrame, threshold: Double, maxBucket: Int): DataFrame = {
    // buckets gathered with a bounded buffer (maxBucket + 1): a flood
    // bucket costs O(maxBucket) vectors in its aggregation task instead of
    // materializing fully just to be dropped by the size filter
    val buckets = banded.groupBy("__band", "__bk")
      .agg(graft.exec.BoundedCollect.boundedCollectList(
        struct(col("__id"), col("__v")), maxBucket + 1).as("__rows"))
      .filter(size(col("__rows")).between(2, maxBucket))
    buckets
      .select(explode(col("__rows")).as("__x"), col("__rows"))
      .select(col("__x"), explode(col("__rows")).as("__y"))
      .filter(col("__x.__id") < col("__y.__id"))
      .select(col("__x.__id").as("id_a"), col("__y.__id").as("id_b"),
        Similarity.cosine(col("__x.__v"), col("__y.__v")).as("cosine"))
      // score first (cosine is deterministic per pair), filter second, and
      // only then dedup band collisions: the distinct shuffle carries the
      // few above-threshold (id, id, cosine) triples, never vector payloads
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** `planes`-bit random-hyperplane signature of a vector: bit p is the sign
    * of the dot product with a deterministic +-1 plane whose entries are the
    * low bit of xxhash64(dimension index, plane) — the same derivation the
    * original Catalyst formulation used (`XXH64` is Spark's own xxhash64
    * kernel, so signatures are unchanged). Runs as one fused JVM loop per
    * row over a memoized sign matrix — [[Similarity.bandSignatures]] with
    * one band of `planes` bits: the declarative aggregate/zip_with/xxhash64
    * tree is interpreted per element and was the dominant cost of every
    * LSH plan.
    */
  def hyperplaneSignature(vec: Column, planes: Int): Column = {
    require(planes >= 8 && planes <= 64 && planes % 8 == 0,
      s"planes must be a multiple of 8 in [8, 64], got $planes: the band " +
        "split is 8-bit (planes < 8 silently returns ZERO pairs; a " +
        "non-multiple silently drops the top bits) and the signature is " +
        "one long (a shift past 63 wraps mod 64, corrupting low bits)")
    val u = udf((v: Array[Double]) =>
      if (v == null) null
      else java.lang.Long.valueOf(Similarity.bandSignatures(v, 1, planes)(0)))
    u(vec.cast("array<double>"))
  }

  /** Substring-containment dedup at TOKEN level: pairs (contained_id,
    * container_id) where one document's normalized token sequence appears
    * contiguously inside another's — the "this document is a fragment of
    * that one" relation that exact and near-dup both miss (a 10-token
    * excerpt of a 10k-token page has Jaccard ~0.001 and a disjoint
    * MinHash signature, yet is pure duplication for a training mix).
    *
    * Exactness contract: winnowing guarantees any shared token run of
    * >= w + k - 1 tokens shares at least one fingerprint
    * ([[TextAnalysis.winnowingFingerprints]]; Schleimer-Wilkerson-Aiken
    * 2003 theorem 1 — a contained doc's k-gram windows all occur
    * contiguously in the container, so every one of its fingerprint
    * windows is also a window of the container). Candidates therefore
    * come from a fingerprint equi-join with NO recall loss for contained
    * docs of >= w + k - 1 tokens; shorter docs are out of contract
    * (callers lower k/w, at more fingerprints per doc). Each candidate is
    * then verified by exact space-padded substring match over the
    * normalized (lowercased, whitespace-collapsed) token join, so false
    * candidates never survive. Equal token sequences orient the HIGHER id
    * as contained (smallest id stays canonical, [[exact]]'s discipline).
    *
    * Scale shape: fingerprints are a map-side projection; the candidate
    * join is an equi-join on an 8-byte fingerprint whose fan-out is the
    * fingerprint's document frequency — boilerplate-heavy corpora should
    * strip shared headers first (stripBoilerplate), exactly as PPJoin
    * corpora do, and AQE's skew split handles the residual hot keys. The
    * verify stage touches only candidate pairs, never all pairs.
    */
  def containedDocs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    Inputs.present(df, "input", idCol, textCol)
    val minTokens = w + k - 1
    val toks = TextAnalysis.wordsLower(col(textCol))
    val base = spread(df).select(
      col(idCol).cast("string").as("__id"),
      array_join(toks, " ").as("__norm"),
      size(toks).cast("long").as("__ntok"),
      TextAnalysis.winnowingFingerprints(col(textCol), k, w).as("__fps"))
      .pin("Dedup.containedDocs")
    val fp = base.select(col("__id"), col("__ntok"),
      explode(col("__fps")).as("__fp"))
    val cand = fp.select(col("__fp"), col("__id").as("__a"), col("__ntok").as("__an"))
      .where(col("__an") >= minTokens)
      .join(fp.select(col("__fp"), col("__id").as("__b"), col("__ntok").as("__bn")),
        "__fp")
      .where(col("__a") =!= col("__b") &&
        (col("__an") < col("__bn") ||
          (col("__an") === col("__bn") && col("__a") > col("__b"))))
      .select(col("__a"), col("__b")).distinct()
    cand
      .join(base.select(col("__id").as("__a"), col("__norm").as("__na")), "__a")
      .join(base.select(col("__id").as("__b"), col("__norm").as("__nb")), "__b")
      .where(concat(lit(" "), col("__nb"), lit(" "))
        .contains(concat(lit(" "), col("__na"), lit(" "))))
      .select(col("__a").as("contained_id"), col("__b").as("container_id"))
  }

  /** Exact edit-distance similarity join over a string dictionary: every
    * unordered pair of DISTINCT values of `strCol` with Levenshtein
    * distance in [1, `maxDistance`] — the record-linkage / spelling-variant
    * primitive (merge "Jon Smith"/"John Smith" vendor rows, collapse OCR
    * variants before counting) — with recall exactly 1, so a quadratic
    * DuckDB cross join oracles it.
    *
    * Blocking is the Ed-Join prefix filter (Xiao, Wang & Lin 2008,
    * "Ed-Join: an efficient algorithm for similarity joins with edit
    * distance constraints") on DISTINCT q-grams: an edit rewrites at most
    * `q` positional grams, so a gram type present in one string and absent
    * from the other needs all its occurrences destroyed and
    * |G1 \ G2| <= q*d; ordering grams rarest-first (global document
    * frequency, then gram) and indexing only each string's first q*d + 1
    * grams therefore cannot miss a true pair — if the O-smallest shared
    * gram sat outside a prefix, that prefix's q*d + 1 grams would all be
    * unshared, contradicting the bound. Rarest-first keeps index buckets
    * small: a stop-gram shared by the whole corpus lands in (almost) no
    * prefix, the same discipline as [[ngramJaccardPairs]].
    *
    * Strings too short for the gram bound to bite (< q*(d+1) chars, i.e.
    * fewer than q*d + 1 positional grams) can share zero grams with a true
    * partner, so they take a separate complete path: a partner differs by
    * at most `d` chars, so it has < q*(d+1) + d chars; the short side
    * explodes to its 2d+1 admissible partner lengths and equi-joins the
    * <= q*(d+1)+d-1-char band on exact length. That join is keyed on
    * length, so its buckets are the dictionary's per-length populations —
    * `maxLenBucket` refuses loudly (naming the knob) when a single short
    * length holds so many distinct strings that the band join degenerates,
    * rather than silently going quadratic.
    *
    * Candidates from both paths are unioned, deduped, and verified with
    * the banded O(len*d) `levenshtein(a, b, threshold)` kernel — the
    * released `dist` is exact, never -1. Shuffles: dictionary distinct,
    * gram-frequency agg, per-string prefix window, prefix self-join (keyed
    * on rare grams), length-band join (keyed on length), pair distinct —
    * all keyed on natural keys, near-linear in dictionary size; the
    * 100-TB row count never enters after the first distinct.
    */
  def editDistancePairs(
      df: DataFrame, strCol: String, maxDistance: Int,
      q: Int = 2, maxLenBucket: Int = 100000): DataFrame = Materialize.scoped { reuse =>
    require(maxDistance >= 1, s"maxDistance must be >= 1, got $maxDistance")
    require(q >= 1, s"gram length q must be >= 1, got $q")
    Inputs.present(df, "input", strCol)
    val d = maxDistance
    val longMin = q * (d + 1) // >= q*d + 1 positional grams
    val dict = reuse(spread(df)
      .select(col(strCol).cast("string").as("__s"))
      .filter(col("__s").isNotNull && length(col("__s")) > 0)
      .distinct()
      .withColumn("__len", length(col("__s"))))
    // --- long path: rarest-first q-gram prefix index
    val grams = dict.filter(col("__len") >= longMin)
      .select(col("__s"), col("__len"),
        explode(array_distinct(transform(
          sequence(lit(0), col("__len") - q),
          i => col("__s").substr(i + lit(1), lit(q))))).as("__g"))
    val freq = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy("__s").orderBy(col("__df"), col("__g"))
    val prefix = grams.join(freq, "__g")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= q * d + 1)
      .select(col("__g"), col("__s"), col("__len"))
    val longCand = prefix.as("a").join(prefix.as("b"),
        col("a.__g") === col("b.__g") && col("a.__s") < col("b.__s") &&
          abs(col("a.__len") - col("b.__len")) <= d)
      .select(col("a.__s").as("__a"), col("b.__s").as("__b"))
    // --- short path: complete length-band join for sub-gram-bound strings
    val bandMax = longMin - 1 + d
    val bandCounts = dict.filter(col("__len") <= bandMax)
      .groupBy("__len").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxLenBucket).limit(1).collect()
    require(bandCounts.isEmpty, {
      val r = bandCounts.head
      s"editDistancePairs: ${r.getLong(1)} distinct strings of length " +
        s"${r.getInt(0)} exceed maxLenBucket=$maxLenBucket; the complete " +
        "short-string band join would degenerate — raise maxLenBucket or " +
        "pre-filter the dictionary"
    })
    val band = dict.filter(col("__len") <= bandMax)
    val shortCand = dict.filter(col("__len") < longMin)
      .select(col("__s"), explode(sequence(
        greatest(col("__len") - d, lit(1)), col("__len") + d)).as("__tl"))
      .join(band.select(col("__s").as("__t"), col("__len")),
        col("__tl") === col("__len"))
      .filter(col("__s") =!= col("__t"))
      .select(least(col("__s"), col("__t")).as("__a"),
        greatest(col("__s"), col("__t")).as("__b"))
    longCand.union(shortCand).distinct()
      .withColumn("dist", levenshtein(col("__a"), col("__b"), d))
      .filter(col("dist") =!= -1)
      .select(col("__a").as("name_a"), col("__b").as("name_b"), col("dist"))
      .pin("Dedup.editDistancePairs")
  }

  /** Entity resolution over a string dictionary: every distinct `strCol`
    * value mapped to its cluster's canonical form — by default the
    * lexicographically smallest string reachable through chains of
    * [[editDistancePairs]] edges (ed <= `maxDistance`). The full
    * record-linkage loop in one call: "Jon Smith" -> "John Smith" ->
    * "John  Smith" collapse to one canonical vendor even when the
    * endpoints are more than `maxDistance` apart (transitive closure, the
    * standard single-linkage choice; singletons map to themselves).
    *
    * `canonical = "frequent"` canonicalizes to the cluster's MOST
    * FREQUENT variant instead (occurrence count over the input ROWS, not
    * the distinct dictionary; ties break to the smaller name) — real
    * record linkage wants "Acme Corp" seen 10,000 times over the
    * lexicographically-first typo "AAcme Corp" seen once. Costs one
    * extra name-keyed count aggregate and one component-keyed max;
    * `"min"` keeps the aggregate-free two-join mapping.
    *
    * Strings become dense node ids via [[graft.exec.Ranks.globalRowNumber]]
    * ORDERED BY the string itself, so id order IS name order and the
    * component's min id (what [[connectedComponents]] propagates) maps
    * straight back to the min name — no hash ids whose collisions could
    * silently merge clusters. Plan: the edit-distance join, one ranged
    * id assignment, the O(log diameter) component loop on (long, long)
    * edges, and two id->name hash joins back.
    */
  def resolveEntities(
      df: DataFrame, strCol: String, maxDistance: Int,
      q: Int = 2, maxLenBucket: Int = 100000,
      canonical: String = "min"): DataFrame = Materialize.scoped { reuse =>
    require(canonical == "min" || canonical == "frequent",
      s"canonical must be 'min' or 'frequent', got '$canonical'")
    val pairs = editDistancePairs(df, strCol, maxDistance, q, maxLenBucket)
    val dict = spread(df).select(col(strCol).cast("string").as("name"))
      .filter(col("name").isNotNull && length(col("name")) > 0)
      .distinct()
    val ids = reuse(graft.exec.Ranks.globalRowNumber(dict, Seq(col("name")), "__nid"))
    val edges = pairs
      .join(ids.select(col("name").as("name_a"), col("__nid").as("__ia")),
        "name_a")
      .join(ids.select(col("name").as("name_b"), col("__nid").as("__ib")),
        "name_b")
      .select(col("__ia"), col("__ib"))
    val comp = connectedComponents(edges, "__ia", "__ib")
    val clustered =
      if (canonical == "min")
        // the component id IS the min member id = the min name: two joins
        comp
          .join(ids.select(col("__nid").as("id"), col("name")), "id")
          .join(ids.select(col("__nid").as("component"),
            col("name").as("__canon")), "component")
          .select(col("name"), col("__canon"))
      else {
        // most-frequent variant: row-level occurrence counts per name,
        // then min of (-count, name) per component — max count, ties to
        // the smaller name, deterministic under any partitioning
        val counts = spread(df)
          .select(col(strCol).cast("string").as("name"))
          .filter(col("name").isNotNull && length(col("name")) > 0)
          .groupBy("name").agg(count(lit(1)).as("__cnt"))
        val members = comp
          .join(ids.select(col("__nid").as("id"), col("name")), "id")
          .select(col("component"), col("name"))
        val best = members.join(counts, "name")
          .groupBy("component")
          .agg(min(struct((-col("__cnt")).as("nc"), col("name").as("n")))
            .as("__b"))
          .select(col("component"), col("__b").getField("n").as("__canon"))
        members.join(best, "component").select(col("name"), col("__canon"))
      }
    ids.select(col("name"))
      .join(clustered, Seq("name"), "left")
      .select(col("name"),
        coalesce(col("__canon"), col("name")).as("canonical"))
      .pin("Dedup.resolveEntities")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995, the merge/
    * purge method): order all records by a sort key and emit every pair
    * within `windowSize` ranks — the THIRD blocking family next to
    * Ed-Join's q-gram prefixes and MinHash bands, and the one that
    * catches near-duplicates q-grams miss when the discriminating
    * prefix itself is corrupted ("Smith, John" / "Smith,John"). The
    * release is candidate pairs (id_a, id_b, rank_gap) for a verifier
    * (banded Levenshtein, exact compare) to score; output size is
    * exactly bounded by n * windowSize.
    *
    * The total order is (sortKey, id) — the id tie-break makes ranks,
    * and therefore the pair set, bit-stable under any partitioning.
    * NULL keys/ids drop (they sort nowhere). Duplicate ids raise: two
    * rows claiming one id would silently double every window they
    * touch.
    *
    * Scale shape: ranks come from the two-phase global row number
    * ([[graft.exec.Ranks.globalRowNumber]] — range exchange +
    * per-partition window, never a single-task sort); pairing is ONE
    * equi-join on `windowSize`-wide rank buckets (each row lands in
    * its bucket and the next, a bounded 2x fan-out) filtered to
    * `0 < gap <= windowSize` — never an all-pairs product.
    */
  def sortedNeighborPairs(
      df: DataFrame, idCol: String, sortKeyCol: String,
      windowSize: Int): DataFrame = {
    require(windowSize >= 1 && windowSize <= 10000,
      s"windowSize must be in [1, 1e4], got $windowSize")
    Inputs.present(df, "input", idCol, sortKeyCol)
    val base = df
      .select(col(idCol).cast("string").as("__id"),
        col(sortKeyCol).cast("string").as("__k"))
      .where(col("__id").isNotNull && col("__k").isNotNull)
    val dup = base.groupBy("__id").agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1L).limit(1).collect()
    require(dup.isEmpty,
      s"sortedNeighborPairs: id ${dup.headOption.map(_.getString(0))
        .getOrElse("")} appears more than once — dedup ids first")
    val ranked = graft.exec.Ranks.globalRowNumber(
      base, Seq(col("__k"), col("__id")), "__r")
      .pin("Dedup.sortedNeighborPairs ranks")
    val w = windowSize.toLong
    // each row lands in bucket r div w and the PREVIOUS bucket probe
    // side: joining (b) x (b, b+1) covers every gap in (0, w]
    val bucket = expr(s"__r div ${w}L") // integer div — exact at any rank
    val left = ranked.select(col("__id").as("id_a"), col("__r").as("__ra"),
      bucket.as("__b"))
    val right = ranked.select(col("__id").as("id_b"), col("__r").as("__rb"),
      explode(array(bucket, bucket - 1L)).as("__b"))
    left.join(right, Seq("__b"))
      .where(col("__rb") > col("__ra") && col("__rb") - col("__ra") <= w)
      .select(col("id_a"), col("id_b"),
        (col("__rb") - col("__ra")).as("rank_gap"))
  }

  /** Memoized +-1 plane matrix for [[Similarity.bandSignatures]]; entry
    * (p, i) is the low bit of Spark's xxhash64 over the two int columns
    * (i, p) with the default seed 42, i.e.
    * XXH64.hashInt(p, XXH64.hashInt(i, 42)).
    */
  private val planeSignsCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private[pipeline] def planeSigns(planes: Int, dim: Int): Array[Array[Double]] =
    planeSignsCache.computeIfAbsent((planes, dim), { _ =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      Array.tabulate(planes) { p =>
        Array.tabulate(dim) { i =>
          if ((XXH64.hashInt(p, XXH64.hashInt(i, 42L)) & 1L) == 1L) 1.0 else -1.0
        }
      }
    })
}
