package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.accounting._
import graft.budget._
import graft.constraints._
import graft.ir._
import graft.ir.QueryExpr.TextFeatureKind
import graft.exec.Materialize.Pin
import graft.keyset.KeySet
import graft.session.Session
import graft.types.{ColumnDescriptor, ColumnType}

/** The registered correctness queries: each exercises one operator from
  * SURVEY.md §2 through the full Session/compiler/noise path at infinite
  * budget (noise scale 0 -> bit-deterministic), paired with a DuckDB oracle
  * in `oracles` computing the identical result. Aggregates use
  * integer-valued measures (l_quantity is 1..50, p_size 1..50) so double
  * sums are exact regardless of addition order and both engines produce
  * identical bits.
  */
object Queries {

  private val Inf = PureDPBudget(Rat.Inf)
  private val InfApprox = ApproxDPBudget(Rat.Inf, Rat.zero)

  // NOTE: deliberately no DataFrame PERSIST here — persisting materializes
  // every column, defeating the pruned columnar scans (2-3 of 16 columns)
  // that make repeated parquet reads cheap. Measured slower with a cache.
  // The LAZY plan object is memoized instead: reusing it skips the
  // per-query file listing and parquet footer schema read while each query
  // still gets its own Catalyst optimization (and thus its own pruning).
  private val readMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
  /** Streaming read of one table under `dir`, layout-aware: the streaming
    * file source needs a DIRECTORY, so a directory-shaped table (the
    * ScaleUp replicas' multi-part layout, and any real deployment) streams
    * straight from its path, while the driver testdata's single-file
    * layout streams from `dir` glob-filtered down to the one file.
    */
  private def readStreamTable(
      spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // directory detection through the Hadoop FS API, NOT java.io.File: on
    // HDFS/S3 a java.io probe is always false, which would silently take
    // the glob branch and stream ZERO rows from a directory-shaped table
    // (no leaf file is named <table>.parquet) — the exact masked-empty-
    // input failure this helper exists to prevent on the local replicas.
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = try fs.getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    if (isDir) spark.readStream.schema(schema).parquet(p.toString)
    else spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Run a streaming frame to completion into the in-memory table `name`
    * (AvailableNow: everything present at start, then stop) and read the
    * table back — how every registered streaming query drains its stream.
    */
  private def drainToMemory(spark: SparkSession,
      stream: org.apache.spark.sql.Dataset[_], name: String,
      outputMode: String): DataFrame = {
    stream.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    spark.table(name)
  }

  private val eventsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
  }
  /** events with its event-time column `ts`, for the streaming scans */
  private val eventsWithTsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }
  private val documentsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
  }

  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    readMemo.getOrElseUpdate((spark, dir, table),
      if (table == "events") readEvents(spark, dir)
      else spark.read.parquet(s"$dir/$table.parquet"))

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark cannot decode; an
    * explicit schema without `ts` prunes the column at the scan. Queries
    * needing event time should derive it upstream (see TESTDATA.md).
    */
  private def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(eventsSchema).parquet(s"$dir/events.parquet")

  private def lineitemSession(spark: SparkSession, dir: String): Session =
    Session.fromDataFrame(spark, Inf, "lineitem", read(spark, dir, "lineitem"), AddOneRow())

  private val flagKeys = KeySet.fromColumn("l_returnflag", Seq("A", "N", "R"))
  private val statusKeys = KeySet.fromColumn("o_orderstatus", Seq("F", "O", "P"))
  private val segmentKeys = KeySet.fromColumn("c_mktsegment",
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
  private val typeKeys = KeySet.fromColumn("event_type",
    Seq("click", "error", "purchase", "signup", "view"))

  /** Oracle helper: group-by-count against an explicit key domain, mirroring
    * keyset semantics (absent keys -> 0).
    */
  private def countOracle(values: Seq[String], keyCol: String, innerSql: String): String =
    s"""SELECT k.$keyCol AS $keyCol, CAST(coalesce(t.cnt, 0) AS BIGINT) AS count
       |FROM (VALUES ${values.map(v => s"('$v')").mkString(", ")}) k($keyCol)
       |LEFT JOIN ($innerSql) t USING ($keyCol)""".stripMargin

  /** Exact cosine top-3 for queries vec_id < 10, self excluded, rank-only. */
  private val knnOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT * FROM e WHERE vec_id < 10),
      |s AS (SELECT q.vec_id AS query_id, e.vec_id AS corpus_id,
      |        list_cosine_similarity(q.v, e.v) AS c
      |      FROM q JOIN e ON e.vec_id <> q.vec_id)
      |SELECT query_id, corpus_id, CAST(row_number() OVER (
      |  PARTITION BY query_id ORDER BY c DESC, corpus_id) AS INT) AS rank
      |FROM s QUALIFY rank <= 3""".stripMargin

  /** Yearly date-histogram oracle mirroring BinningSpec's bin naming and
    * edge semantics ([first, b], then (a, b]).
    */
  private val dateHistOracle: String = {
    val bins = (1992 to 1999).map(y => s"$y-01-01").sliding(2).zipWithIndex.map {
      case (Seq(a, b), i) =>
        val nm = if (i == 0) s"[$a, $b]" else s"($a, $b]"
        val cond =
          if (i == 0) s"l_shipdate >= '$a' AND l_shipdate <= '$b'"
          else s"l_shipdate > '$a' AND l_shipdate <= '$b'"
        (nm, cond)
    }.toSeq
    s"""SELECT k.l_shipdate_binned AS l_shipdate_binned,
       |  CAST(coalesce(t.cnt, 0) AS BIGINT) AS count
       |FROM (VALUES ${bins.map(b => s"('${b._1}')").mkString(", ")})
       |  k(l_shipdate_binned)
       |LEFT JOIN (SELECT CASE
       |    ${bins.map(b => s"WHEN ${b._2} THEN '${b._1}'").mkString("\n    ")}
       |    END AS l_shipdate_binned, count(*) AS cnt
       |  FROM lineitem GROUP BY 1) t USING (l_shipdate_binned)""".stripMargin
  }

  // ------------------------------------------------------------------ queries

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- counts ------------------------------------------------------------
    "q01_count" -> ((s, d) =>
      lineitemSession(s, d).evaluate(QueryBuilder("lineitem").count(), Inf)),
    "q02_groupby_count" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").filter("l_quantity > 10")
          .groupby(flagKeys).count(), Inf)),
    "q03_groupby_count_distinct" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .countDistinct(Seq("l_suppkey")), Inf)),
    "q68_rows_across_groups" -> ((s, d) =>
      // AddMaxRowsInMaxGroups protection: a unit may change up to 5 rows in
      // each of up to 2 l_returnflag groups (d_in = 10 under PureDP, 5*sqrt(2)
      // rounded up under zCDP); the noiseless result is the plain group count
      Session.fromDataFrame(s, Inf, "lineitem", read(s, d, "lineitem"),
        graft.accounting.AddMaxRowsInMaxGroups("l_returnflag", 2, 5))
        .evaluate(QueryBuilder("lineitem").groupby(flagKeys).count(), Inf)),
    "q04_count_distinct_rows" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").select("l_orderkey").countDistinct(), Inf)),
    // -- clamped aggregates ------------------------------------------------
    "q05_groupby_sum" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .sum("l_quantity", 0.0, 50.0), Inf)),
    "q06_sum_int" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "part", read(s, d, "part"), AddOneRow())
        .evaluate(QueryBuilder("part").sum("p_size", 1.0, 50.0), Inf)),
    "q07_groupby_average" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .average("l_quantity", 0.0, 50.0), Inf)),
    "q08_groupby_variance" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .variance("l_quantity", 0.0, 50.0), Inf)),
    "q09_groupby_stdev" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .stdev("l_quantity", 0.0, 50.0), Inf)),
    // -- row transformations ----------------------------------------------
    "q10_filter" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          .filter("l_shipdate >= '1995-01-01' AND l_discount >= 0.02")
          .groupby(KeySet.fromColumn("l_linestatus", Seq("F", "O"))).count(), Inf)),
    "q11_rename_select" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").rename(Map("l_returnflag" -> "flag"))
          .select("flag", "l_quantity")
          .groupby(KeySet.fromColumn("flag", Seq("A", "N", "R"))).count(), Inf)),
    "q12_map" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          .map(r => Map("qty2" -> (r("l_quantity").asInstanceOf[Double] * 2.0)),
            Seq("qty2" -> ColumnDescriptor(ColumnType.Decimal)), augment = true)
          .sum("qty2", 0.0, 100.0), Inf)),
    "q13_flatmap_cap" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          // emits 3 rows but max_rows=2 enforces the cap
          .flatMap(r => Seq(Map("tag" -> "a"), Map("tag" -> "b"), Map("tag" -> "c")),
            Seq("tag" -> ColumnDescriptor(ColumnType.Varchar)), maxRows = 2,
            augment = true)
          .count(), Inf)),
    "q14_replace_null_and_nan" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          .map(r => Map("qty_n" -> (if (r("l_quantity").asInstanceOf[Double] > 30)
            null else r("l_quantity"))),
            Seq("qty_n" -> ColumnDescriptor(ColumnType.Decimal, allowNull = true)),
            augment = true)
          .replaceNullAndNan(Map("qty_n" -> 0.0))
          .sum("qty_n", 0.0, 50.0), Inf)),
    "q15_replace_infinity" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          .map(r => Map("qty_i" -> (r("l_quantity").asInstanceOf[Double] match {
            case q if q > 30 => Double.PositiveInfinity
            case q if q < 5  => Double.NegativeInfinity
            case q           => q
          })), Seq("qty_i" -> ColumnDescriptor(ColumnType.Decimal, allowInf = true)),
            augment = true)
          .replaceInfinity(Map("qty_i" -> (0.0, 50.0)))
          .sum("qty_i", 0.0, 50.0), Inf)),
    "q16_drop_null_and_nan" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          .map(r => Map("qty_n" -> (if (r("l_quantity").asInstanceOf[Double] > 30)
            null else r("l_quantity"))),
            Seq("qty_n" -> ColumnDescriptor(ColumnType.Decimal, allowNull = true)),
            augment = true)
          .dropNullAndNan("qty_n")
          .count(), Inf)),
    "q17_drop_infinity" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          .map(r => Map("qty_i" -> (r("l_quantity").asInstanceOf[Double] match {
            case q if q > 30 => Double.PositiveInfinity
            case q if q < 5  => Double.NegativeInfinity
            case q           => q
          })), Seq("qty_i" -> ColumnDescriptor(ColumnType.Decimal, allowInf = true)),
            augment = true)
          .dropInfinity("qty_i")
          .count(), Inf)),
    // -- joins -------------------------------------------------------------
    "q18_join_public" -> ((s, d) => {
      val sess = new Session.Builder().withPrivacyBudget(Inf)
        .withPrivateDataFrame("orders", read(s, d, "orders"), AddOneRow())
        .withPublicDataFrame("customer", read(s, d, "customer"))
        .build(s)
      sess.evaluate(
        QueryBuilder("orders").rename(Map("o_custkey" -> "c_custkey"))
          .joinPublic("customer", Seq("c_custkey"))
          .groupby(segmentKeys).count(), Inf)
    }),
    "q19_join_private" -> ((s, d) => {
      val sess = new Session.Builder().withPrivacyBudget(Inf)
        .withPrivateDataFrame("lineitem", read(s, d, "lineitem"), AddOneRow())
        .withPrivateDataFrame("orders", read(s, d, "orders"), AddOneRow())
        .build(s)
      sess.evaluate(
        QueryBuilder("lineitem").rename(Map("l_orderkey" -> "okey"))
          .joinPrivate(
            QueryBuilder("orders").rename(Map("o_orderkey" -> "okey")),
            TruncationStrategy.DropExcess(20), TruncationStrategy.DropExcess(1),
            Some(Seq("okey")))
          .groupby(statusKeys).count(), Inf)
    }),
    "q20_join_private_nonunique" -> ((s, d) => {
      val sess = new Session.Builder().withPrivacyBudget(Inf)
        .withPrivateDataFrame("lineitem", read(s, d, "lineitem"), AddOneRow())
        .withPrivateDataFrame("orders", read(s, d, "orders"), AddOneRow())
        .build(s)
      sess.evaluate(
        QueryBuilder("lineitem").rename(Map("l_orderkey" -> "okey"))
          .joinPrivate(
            QueryBuilder("orders").rename(Map("o_orderkey" -> "okey")),
            TruncationStrategy.DropNonUnique, TruncationStrategy.DropExcess(1),
            Some(Seq("okey")))
          .groupby(statusKeys).count(), Inf)
    }),
    // -- binning / suppression / partition selection ----------------------
    "q21_histogram" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").histogram("l_quantity",
          BinningSpec(Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0))), Inf)),
    "q22_suppress" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "events", read(s, d, "events"), AddOneRow())
        .evaluate(
          QueryBuilder("events").groupby(typeKeys).count().suppress(2000.0), Inf)),
    "q23_get_groups" -> ((s, d) =>
      Session.fromDataFrame(s, InfApprox, "events", read(s, d, "events"), AddOneRow())
        .evaluate(QueryBuilder("events").getGroups("event_type"), InfApprox)),
    // -- IDs world ---------------------------------------------------------
    "q24_enforce_count" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "events", read(s, d, "events"),
        AddRowsWithID("user_id"))
        .evaluate(
          QueryBuilder("events").enforce(MaxRowsPerID(1000)).count(), Inf)),
    "q25_flatmap_by_id" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "events", read(s, d, "events"),
        AddRowsWithID("user_id"))
        .evaluate(
          QueryBuilder("events")
            .flatMapByID(rows =>
              Seq(Map("n_types" -> rows.map(_("event_type")).distinct.size)),
              Seq("n_types" -> ColumnDescriptor(ColumnType.Integer)))
            .enforce(MaxRowsPerID(1))
            .sum("n_types", 0.0, 10.0), Inf)),
    "q26_enforce_groups" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "events", read(s, d, "events"),
        AddRowsWithID("user_id"))
        .evaluate(
          QueryBuilder("events")
            .enforce(MaxGroupsPerID("event_type", 5))
            .enforce(MaxRowsPerGroupPerID("event_type", 1000))
            .groupby(typeKeys).count(), Inf)),
    // -- keyset algebra (materialized keysets as results) ------------------
    "q27_keyset_cross" -> ((s, d) =>
      (KeySet.fromDataFrame(read(s, d, "region").select("r_name")) *
        KeySet.fromColumn("flag", Seq("A", "N", "R"))).dataframe(s)),
    "q28_keyset_join" -> ((s, d) =>
      KeySet.fromDataFrame(read(s, d, "nation").select("n_regionkey", "n_name"))
        .join(KeySet.fromDataFrame(
          read(s, d, "region").withColumnRenamed("r_regionkey", "n_regionkey")))
        .dataframe(s)),
    "q29_keyset_union" -> ((s, d) =>
      KeySet.fromDataFrame(read(s, d, "region").select("r_name"))
        .union(KeySet.fromColumn("r_name", Seq("ASIA", "ATLANTIS")))
        .dataframe(s)),
    "q30_keyset_subtract" -> ((s, d) =>
      KeySet.fromDataFrame(read(s, d, "region").select("r_name"))
        .subtract(KeySet.fromColumn("r_name", Seq("ASIA", "EUROPE")))
        .dataframe(s)),
    "q31_keyset_project" -> ((s, d) =>
      KeySet.fromDataFrame(read(s, d, "nation").select("n_name", "n_regionkey"))
        .project(Seq("n_regionkey")).dataframe(s)),
    "q32_keyset_filter" -> ((s, d) =>
      KeySet.fromDataFrame(read(s, d, "region").select("r_name"))
        .filter("r_name LIKE 'A%'").dataframe(s)),
    "q60_keyset_cross_large" -> ((s, d) => {
      // mirrors the reference's published benchmark shape (cross-product
      // materialization, benchmark/keyset_cross_product_per_size.py): 16M
      // keys - above the 2^20 driver-side fold cutoff, so this exercises
      // the distributed crossJoin path
      import org.apache.spark.sql.functions._
      val ks = KeySet.fromColumn("a", 0L until 4000L) *
        KeySet.fromColumn("b", 0L until 4000L)
      ks.dataframe(s).agg(count(lit(1)).as("n_keys"))
    }),
    // -- quantile family (exponential mechanism; rows-only checks) ---------
    "q33_median" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .median("l_quantity", 0.0, 50.0), Inf)),
    "q33b_median_intervals" -> ((s, d) => {
      // the reference's interval-scored quantile (Smith 2011), opt-in via
      // conf: same query as q33 under the intervals mechanism. At eps=inf it
      // deterministically releases the midpoint of the positive-width
      // interval between sorted values nearest index q*n (lowest index wins
      // ties) — the oracle mirrors exactly that
      val prev = s.conf.getOption("spark.graft.quantile.method")
      s.conf.set("spark.graft.quantile.method", "intervals")
      try lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .median("l_quantity", 0.0, 50.0), Inf)
      finally prev match {
        case Some(v) => s.conf.set("spark.graft.quantile.method", v)
        case None    => s.conf.unset("spark.graft.quantile.method")
      }
    }),
    "q34_quantile_p90" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").quantile("l_quantity", 0.9, 0.0, 50.0), Inf)),
    "q35_get_bounds" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").getBounds("l_extendedprice"), Inf)),
    "q65_get_bounds_grouped" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").groupby(flagKeys)
          .getBounds("l_extendedprice"), Inf)),
    "q61_join_private_ids" -> ((s, d) => {
      // PrivateJoinOnKey: two IDs tables in the same id space join on the id
      // column with no truncation; per-ID row bounds multiply
      val ev = read(s, d, "events")
      val sess = new Session.Builder().withPrivacyBudget(Inf)
        .withIdSpace("users")
        .withPrivateDataFrame("ev1", ev.select("user_id", "event_type"),
          AddRowsWithID("user_id", "users"))
        .withPrivateDataFrame("ev2", ev.select("user_id", "value"),
          AddRowsWithID("user_id", "users"))
        .build(s)
      sess.evaluate(
        QueryBuilder("ev1").enforce(MaxRowsPerID(1000))
          .joinPrivate(
            QueryBuilder("ev2").enforce(MaxRowsPerID(1000)),
            Seq("user_id"))
          .count(), Inf)
    }),
    "q55_count_distinct_ids" -> ((s, d) =>
      // distinct-ID count on an IDs table needs no enforce(): sensitivity
      // is exactly d_in per the constrained-count-distinct optimization
      Session.fromDataFrame(s, Inf, "events", read(s, d, "events"),
        AddRowsWithID("user_id"))
        .evaluate(QueryBuilder("events").select("user_id")
          .countDistinct(Seq("user_id"), name = "n_users"), Inf)),
    "q66_histogram_string" -> ((s, d) =>
      // string bin edges: alphabetical ranges over part names (reference
      // BinT includes str; string comparison is binary in both engines)
      Session.fromDataFrame(s, Inf, "part", read(s, d, "part"), AddOneRow())
        .evaluate(QueryBuilder("part")
          .histogram("p_name", BinningSpec(Seq("a", "h", "p", "zz"))), Inf)),
    "q67_id_space_joint" -> ((s, d) => {
      // joint AddRemoveKeys accounting: two tables in one declared id space
      // form a single protected unit — the space's input distance is shared,
      // so querying 'typed' is charged for the d_in its space-mate declared
      // (SessionSpec asserts the doubled noise scale; at infinite budget the
      // result is the plain per-type count)
      val ev = read(s, d, "events")
      val sess = new Session.Builder().withPrivacyBudget(Inf)
        .withIdSpace("users")
        .withPrivateDataFrame("typed", ev.select("user_id", "event_type"),
          AddRowsWithID("user_id", "users"))
        .withPrivateDataFrame("valued", ev.select("user_id", "value"),
          AddRowsWithID("user_id", "users", maxIDs = 2))
        .build(s)
      sess.evaluate(
        QueryBuilder("typed").enforce(MaxRowsPerID(1000))
          .groupby(typeKeys).count(), Inf)
    }),
    "q64_histogram_date" -> ((s, d) => {
      // typed bin edges: java.sql.Date boundaries, yearly bins over
      // l_shipdate (reference BinningSpec supports str/num/date/datetime
      // edges, binning_spec.py:17)
      import graft.ir.BinningSpec._
      val edges = (1992 to 1999).map(y => java.sql.Date.valueOf(s"$y-01-01"))
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem").histogram("l_shipdate", BinningSpec(edges)), Inf)
    }),
    "q63_count_distinct_ids_grouped" -> ((s, d) =>
      // grouped constrained count-distinct: MaxGroupsPerID alone bounds
      // sensitivity (one ID touches <= g groups' distinct counts), no
      // per-group row cap needed; the cap of 5 never drops data since only
      // 5 event types exist, so the Inf-budget result is deterministic
      Session.fromDataFrame(s, Inf, "events", read(s, d, "events"),
        AddRowsWithID("user_id"))
        .evaluate(QueryBuilder("events")
          .enforce(MaxGroupsPerID("event_type", 5))
          .groupby(typeKeys).countDistinct(Seq("user_id")), Inf)),
    // -- DP x pipeline composition (stability-tracked text transforms) ----
    "q56_dp_language_histogram" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "documents", read(s, d, "documents"), AddOneRow())
        .evaluate(
          QueryBuilder("documents")
            .textFeature(TextFeatureKind.Language, "text", "lang_det")
            .groupby(KeySet.fromColumn("lang_det",
              Seq("en", "de", "es", "fr", "zh", "und"))).count(), Inf)),
    "q57_dp_quality_dedup_count" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "documents", read(s, d, "documents"), AddOneRow())
        .evaluate(
          QueryBuilder("documents").distinctRows("text").qualityFilter("text")
            .count(), Inf)),
    "q58_dp_token_sum" -> ((s, d) =>
      Session.fromDataFrame(s, Inf, "documents", read(s, d, "documents"), AddOneRow())
        .evaluate(
          QueryBuilder("documents")
            .textFeature(TextFeatureKind.TokenCount, "text", "tokens")
            .sum("tokens", 0.0, 5000.0), Inf)),
    // -- auto partition selection / zCDP ----------------------------------
    "q38_auto_partition" -> ((s, d) =>
      Session.fromDataFrame(s, InfApprox, "events", read(s, d, "events"), AddOneRow())
        .evaluate(
          QueryBuilder("events").groupby(KeySet.detect("event_type")).count(),
          InfApprox)),
    "q39_zcdp_sum" -> ((s, d) =>
      Session.fromDataFrame(s, RhoZCDPBudget(Rat.Inf), "lineitem",
        read(s, d, "lineitem"), AddOneRow())
        .evaluate(QueryBuilder("lineitem").groupby(flagKeys)
          .sum("l_quantity", 0.0, 50.0), RhoZCDPBudget(Rat.Inf))),
    "q80_ids_partition" -> ((s, d) => {
      // IDs-table partition_and_create: a loose MaxGroupsPerID on the
      // partition column (5 = the full type domain, so no rows drop and the
      // release is deterministic) keeps the children as IDs tables; the
      // child then counts distinct users via the constrained-ID
      // optimization (no row constraint needed)
      val sess = Session.fromDataFrame(s, Inf, "events", read(s, d, "events"),
        graft.accounting.AddRowsWithID("user_id"))
      sess.createView(QueryBuilder("events")
        .enforce(graft.constraints.MaxGroupsPerID("event_type", 5)), "ev",
        cache = false)
      val kids = sess.partitionAndCreate("ev", Inf, "event_type",
        Seq("clicks" -> "click", "views" -> "view"))
      kids("clicks").evaluate(
        QueryBuilder("clicks").countDistinct(Seq("user_id"), "users"), Inf)
    }),
    "q82_zcdp_ids_partition" -> ((s, d) => {
      // the zCDP twin of q80: the child's IDs distance scales by sqrt(g)
      // (exact square g carried to the Gaussian family), and at rho = inf
      // the release stays noiseless — the driver gate proves the scaled
      // accounting does not disturb the answer. The loose MaxRowsPerID cap
      // exceeds any user's rows, so truncation drops nothing.
      val zInf = graft.budget.RhoZCDPBudget(graft.budget.Rat.Inf)
      val sess = Session.fromDataFrame(s, zInf, "events", read(s, d, "events"),
        graft.accounting.AddRowsWithID("user_id"))
      sess.createView(QueryBuilder("events")
        .enforce(graft.constraints.MaxGroupsPerID("event_type", 5)), "ev",
        cache = false)
      val kids = sess.partitionAndCreate("ev", zInf, "event_type",
        Seq("clicks" -> "click", "views" -> "view"))
      kids("views").evaluate(
        QueryBuilder("views")
          .enforce(graft.constraints.MaxRowsPerID(100000))
          .count("n_view_events"), zInf)
    }),
    "q79_detect_composed" -> ((s, d) =>
      // KeySetPlan composition: the detected event-type domain, minus one
      // literal key, crossed with a public bucket domain — detection runs
      // once (plan-only leaf), the algebra post-processes the release
      Session.fromDataFrame(s, InfApprox, "events", read(s, d, "events"), AddOneRow())
        .evaluate(
          QueryBuilder("events")
            .map(r => Map("bucket" -> r("event_id").asInstanceOf[Long] % 2),
              Seq("bucket" -> ColumnDescriptor(ColumnType.Integer)),
              augment = true)
            .groupby(
              KeySet.detect("event_type")
                .subtract(KeySet.fromColumn("event_type", Seq("purchase")))
                * KeySet.fromColumn("bucket", Seq(0L, 1L)))
            .count(),
          InfApprox)),
    "q52_join_public_left" -> ((s, d) => {
      val sess = new Session.Builder().withPrivacyBudget(Inf)
        .withPrivateDataFrame("orders", read(s, d, "orders"), AddOneRow())
        .withPublicDataFrame("nation", read(s, d, "nation"))
        .build(s)
      // o_custkey mod 50 misses some nation keys -> left join keeps the row
      // with null n_name; count by null-ness of the right side
      sess.evaluate(
        QueryBuilder("orders")
          .map(r => Map("n_nationkey" -> r("o_custkey").asInstanceOf[Long] % 100),
            Seq("n_nationkey" -> ColumnDescriptor(ColumnType.Integer)), augment = true)
          .joinPublic("nation", Seq("n_nationkey"), how = "left")
          .map(r => Map("matched" -> (if (r("n_name") == null) "no" else "yes")),
            Seq("matched" -> ColumnDescriptor(ColumnType.Varchar)), augment = true)
          .groupby(KeySet.fromColumn("matched", Seq("yes", "no"))).count(), Inf)
    }),
    "q53_grouping_flatmap" -> ((s, d) =>
      lineitemSession(s, d).evaluate(
        QueryBuilder("lineitem")
          // grouping flat-map: emit one row per size class; the new column
          // becomes a grouping column that MUST be grouped on
          .flatMap(r => {
            val q = r("l_quantity").asInstanceOf[Double]
            Seq(Map("size_class" -> (if (q > 25) "big" else "small")))
          }, Seq("size_class" -> ColumnDescriptor(ColumnType.Varchar)),
            maxRows = 1, augment = true, grouping = true)
          .groupby(KeySet.fromColumn("size_class", Seq("big", "small")))
          .count(), Inf)),
    // -- session ops -------------------------------------------------------
    "q36_view" -> ((s, d) => {
      val sess = lineitemSession(s, d)
      sess.createView(QueryBuilder("lineitem").filter("l_quantity > 25")
        .select("l_returnflag", "l_quantity"), "heavy", cache = false)
      sess.evaluate(QueryBuilder("heavy").groupby(flagKeys).count(), Inf)
    }),
    "q37_partition_and_create" -> ((s, d) => {
      val sess = Session.fromDataFrame(s, Inf, "orders", read(s, d, "orders"), AddOneRow())
      val kids = sess.partitionAndCreate("orders", Inf, "o_orderstatus",
        Seq("orders_f" -> "F", "orders_o" -> "O"))
      kids("orders_f").evaluate(QueryBuilder("orders_f").count(), Inf)
    }),
    // -- LLM-pipeline: dedup ----------------------------------------------
    "q40_dedup_exact" -> ((s, d) =>
      graft.pipeline.Dedup.exact(read(s, d, "documents"), Seq("text"), "doc_id")
        .select("doc_id", "text")),
    "q41_fingerprint" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      read(s, d, "documents")
        .agg(countDistinct(graft.pipeline.TextAnalysis.fingerprint(col("text")))
          .as("n_fingerprints"))
    }),
    "q42_minhash_clusters" -> ((s, d) =>
      graft.pipeline.Dedup.minhashClusters(
        read(s, d, "documents"), "doc_id", "text", threshold = 0.5)),
    "q43_simhash_pairs" -> ((s, d) =>
      // default cap: oversized buckets are re-banded, not dropped, so the
      // pigeonhole recall guarantee holds at every scale
      graft.pipeline.Dedup.simhashPairs(
        read(s, d, "documents"), "doc_id", "text", maxHamming = 3)),
    "q71_ngram_jaccard_pairs" -> ((s, d) =>
      // exact set-similarity self-join: prefix filtering gives recall 1 by
      // construction, so a brute-force oracle must agree at every SF
      graft.pipeline.Dedup.ngramJaccardPairs(
        read(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.5)),
    "q86_dedup_against" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // scrub a training corpus against a held-out reference split: docs
      // with doc_id % 7 == 0 act as the eval set; exact-Jaccard matches
      val all = read(s, d, "documents")
      graft.pipeline.Dedup.crossCorpusMatches(
        all.filter(col("doc_id") % 7 =!= 0), all.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", threshold = 0.5)
    }),
    "q44_embedding_dedup" -> ((s, d) =>
      // testdata embeddings are near-orthogonal random vectors (max pairwise
      // cosine ~0.48), so the demo threshold sits below that. Approximate by
      // design (no oracle): its machinery is oracled by q44b (exhaustive
      // bucket, provable coverage) and its recall by AnnRecallSpec
      graft.pipeline.Dedup.embeddingCosinePairs(
        read(s, d, "embeddings"), "vec_id", "embedding", threshold = 0.4, planes = 8)),
    "q44b_embedding_dedup_exact" -> ((s, d) =>
      // triangle-blocked buckets make every pair co-occur by construction
      // (the self-join limit of probing every bucket), so the SAME
      // bounded-collect/pair-explode/cosine-verify plumbing q44 runs must
      // reproduce the brute-force pair set exactly (ids only; oracle is
      // q73's SQL) — this is q62's nprobe=nlist trick applied to the LSH
      // pair path
      graft.pipeline.Dedup.embeddingCosinePairsExhaustive(
        read(s, d, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .select("id_a", "id_b")),
    "q73_embedding_pairs_exact" -> ((s, d) =>
      // the exact twin of q44: brute-force all-pairs cosine at the same
      // threshold, ids only (the pair set is engine-stable; the raw cosine
      // doubles are not) — the LSH variant's recall story is anchored here
      graft.pipeline.Similarity.bruteForcePairs(
        read(s, d, "embeddings"), "vec_id", "embedding", threshold = 0.4)),
    // -- LLM-pipeline: similarity search ----------------------------------
    "q45_knn_bruteforce" -> ((s, d) => {
      // rank-only contract: cosine stays internal (float round-off differs
      // across engines) but the ordering it induces is oracle-checked —
      // adjacent-rank cosine gaps in this data are >= 1.9e-5, far above
      // double round-off, so ranks are engine-stable
      val emb = read(s, d, "embeddings")
      graft.pipeline.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding",
        emb.filter("vec_id < 10"), "vec_id", "embedding", k = 3)
        .select("query_id", "corpus_id", "rank")
    }),
    "q182_distribution_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // drift monitor: English documents are the reference snapshot, the
      // rest of the corpus the live side — equi-depth n_chars bins from
      // the reference's own quantiles (exact at k=4096), counts and
      // truncating integer ppm shares per bin, zero-filled
      val docs = read(s, d, "documents")
      graft.pipeline.CorpusStats.distributionDrift(
        docs.where(col("lang") === "en"),
        docs.where(col("lang") =!= "en"),
        "n_chars", nBins = 4, k = 4096)
    }),
    "q183_diverse_sample" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // cluster-balanced diversity sampling — the standard corpus-
      // curation composition: q176's integer k-means assigns topics,
      // then each cluster releases its 30 smallest-id-hash members
      // (q81's deterministic quota discipline), flattening the topical
      // skew a uniform sample would inherit
      val assigned = graft.pipeline.Clustering.kMeansMicro(
        read(s, d, "embeddings"), "vec_id", "embedding", k = 4, iters = 2)
        .select(col("vec_id"), col("cluster"))
      graft.pipeline.Sampling.stratifiedQuota(
        assigned, "cluster", "vec_id", quota = 30)
    }),
    "q176_kmeans" -> ((s, d) => {
      // corpus clustering: 2 Lloyd rounds over the embeddings in integer
      // micro-units — deterministic seeds (4 smallest vec_ids),
      // assignment is a codegen'd literal-centroid argmin projection
      // (no join), update is one (cluster, dim)-keyed exchange;
      // bit-identical under any partitioning, which is what lets an
      // independent engine reproduce every assignment and distance
      graft.pipeline.Clustering.kMeansMicro(
        read(s, d, "embeddings"), "vec_id", "embedding", k = 4, iters = 2)
    }),
    "q59_knn_ivf" -> ((s, d) => {
      // approximate by design (no oracle; all-cells twin q62 is oracled):
      // the semantics contract is AnnRecallSpec — recall@3 >= 0.9 vs brute
      // force at these exact parameters (nlist=8, nprobe=3)
      val emb = read(s, d, "embeddings")
      val model = graft.pipeline.Ivf.train(emb, "embedding", nlist = 8)
      graft.pipeline.Ivf.topK(emb, "vec_id", "embedding",
        emb.filter("vec_id < 10"), "vec_id", "embedding", k = 3, model, nprobe = 3)
    }),
    "q62_knn_ivf_exact" -> ((s, d) => {
      // nprobe = nlist probes every cell: the candidate set is the whole
      // corpus, so the IVF plumbing (assignment, probe join, re-rank) must
      // reproduce the exact brute-force top-k — oracle-checked against it
      val emb = read(s, d, "embeddings")
      val model = graft.pipeline.Ivf.train(emb, "embedding", nlist = 8)
      graft.pipeline.Ivf.topK(emb, "vec_id", "embedding",
        emb.filter("vec_id < 10"), "vec_id", "embedding", k = 3, model, nprobe = 8)
        .select("query_id", "corpus_id", "rank")
    }),
    "q46_knn_lsh" -> ((s, d) => {
      // approximate by design (no oracle; exact twin q45 is oracled): the
      // semantics contract is AnnRecallSpec — recall@3 >= 0.9 vs brute
      // force at these exact parameters (64 planes, 8-bit bands) — and the
      // plumbing contract is q46b, the same operator at provably-exhaustive
      // parameters
      val emb = read(s, d, "embeddings")
      graft.pipeline.Similarity.lshTopK(
        emb, "vec_id", "embedding",
        emb.filter("vec_id < 10"), "vec_id", "embedding", k = 3)
    }),
    "q46b_knn_lsh_exact" -> ((s, d) => {
      // 1-bit bands: the query side's single-bit-flip multi-probe then
      // covers BOTH values of every band, so every corpus row is a
      // candidate for every query by construction — recall 1 structurally,
      // and the full banding/probe/join/re-rank plumbing q46 runs must
      // reproduce the exact top-k (rank-only; knnOracle) — the LSH
      // analogue of q62's nprobe=nlist
      val emb = read(s, d, "embeddings")
      graft.pipeline.Similarity.lshTopK(
        emb, "vec_id", "embedding",
        emb.filter("vec_id < 10"), "vec_id", "embedding", k = 3,
        planes = 2, bandBits = 1)
        .select("query_id", "corpus_id", "rank")
    }),
    // -- LLM-pipeline: text analysis --------------------------------------
    "q47_token_count" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      read(s, d, "documents")
        .agg(sum(graft.pipeline.TextAnalysis.tokenCount(col("text")))
          .as("token_count"))
    }),
    "q48_quality_gate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      read(s, d, "documents")
        .filter(graft.pipeline.TextAnalysis.qualityOk(col("text")))
        .agg(count(lit(1)).as("n_quality"))
    }),
    "q49_language_id" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      read(s, d, "documents")
        .withColumn("lang_detected", graft.pipeline.TextAnalysis.languageId(col("text")))
        .groupBy("lang_detected").agg(count(lit(1)).as("n"))
    }),
    "q72_repetition_signals" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // Gopher-style repetition census: how many documents trip the
      // duplicate-line and repeated-2-gram filters (both pure projections;
      // the aggregation is a single partial-then-final count)
      val t = graft.pipeline.TextAnalysis
      read(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(when(t.duplicateLineFraction(col("text")) > 0.3, 1L).otherwise(0L))
          .as("n_dup_lines"),
        sum(when(t.repeatedNgramFraction(col("text"), 2) > 0.15, 1L).otherwise(0L))
          .as("n_repetitive"))
    }),
    "q76_pii_mask" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // masking census: documents whose text changes under PII masking,
      // plus the fingerprint count of the masked corpus — proves the
      // regex semantics match the oracle engine byte-for-byte
      val masked = graft.pipeline.TextAnalysis.maskPii(col("text"))
      read(s, d, "documents").agg(
        sum(when(masked =!= col("text"), 1L).otherwise(0L)).as("n_masked"),
        countDistinct(md5(encode(masked, "UTF-8"))).as("n_distinct_masked"))
    }),
    "q77_decontaminate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // benchmark decontamination: every 100th document stands in for an
      // eval suite; training docs sharing any case-folded 8-gram with it
      // are flagged. Blocklist broadcast, corpus never shuffles its text.
      val docs = read(s, d, "documents")
      graft.pipeline.Dedup.contaminatedIds(
        docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 100 === 0), "text", n = 8)
    }),
    "q78_top_tokens" -> ((s, d) =>
      // exact corpus heavy hitters: top-20 tokens by occurrence count,
      // ties broken by token string — TakeOrderedAndProject, never a
      // global sort of the vocabulary
      graft.pipeline.CorpusStats.topKTokens(read(s, d, "documents"), "text", k = 20)),
    "q75_corpus_profile" -> ((s, d) =>
      // exact per-column profile (the HLL estimate is dropped so the
      // release is oracle-checkable; q75's value is the single-pass shape)
      graft.pipeline.CorpusStats.profile(
        read(s, d, "documents"), Seq("text", "lang", "source"))
        .select("column", "n_rows", "n_nulls", "total_len")),
    "q74_hash_split" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // deterministic train/val/test assignment by id-hash range — the
      // same doc lands in the same split on any engine and cluster size
      graft.pipeline.Sampling.hashSplit(
        read(s, d, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split").agg(count(lit(1)).as("n"))
    }),
    "q118_group_heavy_hitters" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // q83's per-language top tokens through the GROUPED SpaceSaving
      // path: per-group state is capacity counters (not the group's
      // vocabulary), partials merge map-side. Capacity 64 > the corpus
      // vocabulary, so every group's ranking is exact and q83's oracle
      // shape applies at k = 3
      val toks = read(s, d, "documents")
        .select(col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      toks.groupBy("lang")
        .agg(graft.exec.SpaceSaving.spaceSavingTopK(
          col("token"), capacity = 64, k = 3).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "hit")))
        .select(col("lang"), col("hit.key").as("token"),
          col("hit.count").as("n"), (col("pos") + 1).cast("long").as("rank"))
    }),
    "q119_asof_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // as-of enrichment: each purchase joined to the user's most recent
      // STRICTLY PRIOR click (event_id is the event-time proxy — see
      // readEvents). One exchange on user_id + a carry-forward window —
      // no theta-join anywhere in the plan
      val e = read(s, d, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("t"),
          col("value").as("purchase_value"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("t"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      graft.pipeline.Relational.asOfJoin(purchases, clicks, Seq("user_id"), "t")
        .select(col("t").as("event_id"), col("user_id"),
          col("purchase_value"), col("click_id"), col("click_value"))
    }),
    "q120_range_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import s.implicits._
      // interval join lowered to an equi-join on grid cells: lineitem
      // priced into OVERLAPPING bands (mid/high overlap budget/luxe, so a
      // row can land in two), exact [lo, hi) filter post-join. count/min/
      // max are addition-order-free, so the release is bit-deterministic
      val bands = Seq(
        ("budget", 0.0, 20000.0), ("mid", 15000.0, 60000.0),
        ("high", 60000.0, 95000.0), ("luxe", 90000.0, 200000.0))
        .toDF("band", "lo", "hi")
      graft.pipeline.Relational.rangeJoin(
        read(s, d, "lineitem").select(col("l_extendedprice")),
        "l_extendedprice", bands, "lo", "hi", cellWidth = 5000.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n_items"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
    }),
    "q121_svt_above_threshold" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // Sparse Vector Technique: which event types clear a popularity
      // threshold, scanned alphabetically, halting after 2 positives —
      // total eps is independent of how many types are scanned (the DP
      // property that makes SVT a primitive). At eps=inf the release is
      // the deterministic first-2-above prefix (this oracle); finite-eps
      // behavior is SparseVectorSpec's contract
      val counts = read(s, d, "events")
        .groupBy("event_type").agg(count(lit(1)).cast("double").as("n"))
      graft.exec.SparseVector.aboveThreshold(counts, "event_type", "n",
        threshold = 2000.0, maxPositives = 2,
        epsilon = Double.PositiveInfinity)
    }),
    "q122_bigram_logprob" -> ((s, d) =>
      // CCNet-style LM perplexity proxy, one level above q107: per-doc mean
      // NLL of bigram transitions under the corpus's own add-0.5-smoothed
      // bigram LM. Costs quantize once to integer micro-nats so the
      // released sums are exact BIGINTs
      graft.pipeline.CorpusStats.bigramLogProb(
        read(s, d, "documents"), "doc_id", "text", k = 0.5)),
    "q136_compaction_plan" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // small-file compaction planning: a synthetic listing (one "file"
      // per document, sized by its text) stripes serpentine over the
      // size-sorted order into ceil(total/target) groups — deterministic
      // and exactly SQL-mirrorable, unlike sequential first-fit. Released
      // as the per-group summary (assignment itself is path-by-path
      // identical too; the summary keeps the output compact)
      val listing = read(s, d, "documents").select(
        concat(col("source"), lit("/"), col("doc_id")).as("path"),
        length(col("text")).cast("long").as("bytes"))
      graft.sources.Compaction.compactionSummary(
        graft.sources.Compaction.planCompaction(
          listing, "path", "bytes", targetBytes = 4096L))
    }),
    "q135_funnel_gaps" -> ((s, d) =>
      // time-to-convert down the q130 funnel: per step, the surviving
      // users' gaps between earliest completions — count/min/max/exact
      // sum (integral time units, so every stat is order-free)
      graft.pipeline.Relational.funnelGaps(
        readEvents(s, d), "user_id", "event_type", "event_id",
        Seq("view", "click", "purchase"))),
    "q134_embedding_mean_pool" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // chunk-to-document pooling: positionwise mean embedding per label
      // cluster, elements snapped to a 1e-6 grid FIRST so the sums are
      // exact integers (addition-order-free on any engine); released as
      // (label, pos, mean) rows for the value oracle
      val pooled = graft.pipeline.Similarity.meanPool(
        read(s, d, "embeddings"), "label", "embedding", quantizeUnit = 1e-6)
      pooled.select(col("label"), col("n_vecs"),
        posexplode(col("embedding")).as(Seq("pos", "mean_val")))
    }),
    "q133_funnel_window" -> ((s, d) =>
      // the q130 funnel under a 20-minute conversion window: each step
      // must land within 1200 time units of the previous stage's earliest
      // completion (greedy first-window semantics)
      graft.pipeline.Relational.funnel(
        readEvents(s, d), "user_id", "event_type", "event_id",
        Seq("view", "click", "purchase"), maxGap = Some(1200L))),
    "q132_cms_frequencies" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // Count-Min point frequencies: one 4x1024 counter matrix (fixed
      // state, any cardinality) answers per-key counts; the parity-split
      // sketches merge EXACTLY (counters add — bit-identical to the
      // single-pass sketch, unlike HLL's estimator split). The 5 event
      // types are collision-free in at least one row at width 1024
      // (SF-independent: it depends only on the key strings), so the
      // estimates equal the exact counts and oracle as values, not
      // tolerances; est >= exact is CMS's deterministic guarantee either
      // way
      val C = graft.exec.CountMin
      val (depth, width) = (4, 1024)
      val ev = readEvents(s, d)
      val whole = ev.agg(C.sketch(col("event_type"), depth, width).as("sk"))
      val halves = ev.groupBy((col("event_id") % 2 === 0).as("h"))
        .agg(C.sketch(col("event_type"), depth, width).as("hs"))
        .pin("q132_cms_frequencies halves")
      val merged = halves.filter(col("h")).select(col("hs").as("a"))
        .crossJoin(halves.filter(!col("h")).select(col("hs").as("b")))
        .select(C.merge(col("a"), col("b")).as("msk"))
      val exact = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"))
      exact.crossJoin(whole).crossJoin(merged).select(
        col("event_type"), col("n_events"),
        C.estimate(col("sk"), col("event_type"), depth, width)
          .as("cms_estimate"),
        (col("sk") === col("msk")).as("merge_exact"))
    }),
    "q131_cohort_retention" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // retention triangle over 10-minute periods: cohort = first active
      // period per user; one distinct (user, period) collapse bounds heavy
      // users to one row per period before any join
      graft.pipeline.Relational.cohortRetention(
        readEvents(s, d).withColumn("period",
          expr("CAST(event_id AS BIGINT) div 600")),
        "user_id", "period")
    }),
    "q130_event_funnel" -> ((s, d) =>
      // ordered-sequence funnel view -> click -> purchase per user:
      // earliest-completion semantics, each stage an entity-keyed join +
      // min-agg over that step's pushed-filter scan — never a per-user
      // event gather
      graft.pipeline.Relational.funnel(
        readEvents(s, d), "user_id", "event_type", "event_id",
        Seq("view", "click", "purchase"))),
    "q184_session_funnel" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // q130's funnel at SESSION granularity: sessions split at >100-id
      // gaps over the full stream (q168's segmentation), entities are
      // (user, session) — in-visit conversion, which the per-user funnel
      // over-counts
      graft.pipeline.Relational.sessionFunnel(
        readEvents(s, d).select(col("user_id"), col("event_id"),
          col("event_type")),
        entityCol = "user_id", timeCol = "event_id", typeCol = "event_type",
        gapUnits = 100L, steps = Seq("view", "click", "purchase"))
    }),
    "q185_kcore" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // cohesive core of the thin-slice part<->supplier sourcing graph
      // (low-quantity lineitems only, so degrees sit near the threshold):
      // 4-core by iterative peeling — at the oracle SF the peel cascades
      // for three real rounds before the fixed point, and the bounded
      // SQL unroll reproduces every surviving (node, degree) exactly
      val e = read(s, d, "lineitem").where(col("l_quantity") <= 3)
        .select(concat(lit("p"), col("l_partkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      // assumeCanonical: e is distinct and BIPARTITE with disjoint "p"/"s"
      // endpoint namespaces — no pair can appear in both orientations
      graft.pipeline.Graph.kCore(e, "src", "dst", k = 4, maxRounds = 4,
        assumeCanonical = true)
    }),
    "q186_sssp_weighted" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // weighted shortest paths over the supplier co-supply graph (edge
      // weight = number of shared orders) from the min-nation suppliers,
      // bounded at 3 hops: exact integer distances, frontier-limited
      // Bellman-Ford — the hop-bounded recursive walk mirrors it bit for
      // bit
      val li = read(s, d, "lineitem")
        .select(col("l_orderkey").as("o"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val p = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.sn") < col("b.sn"))
        .groupBy(col("a.sn").as("x"), col("b.sn").as("y"))
        .agg(count(lit(1)).as("w"))
      val edges = p.select(col("x").as("src"), col("y").as("dst"), col("w"))
        .unionByName(p.select(col("y").as("src"), col("x").as("dst"),
          col("w")))
      val sup = read(s, d, "supplier")
      val minNation = sup.agg(min(col("s_nationkey")).as("__mn"))
      val seeds = sup.crossJoin(broadcast(minNation))
        .where(col("s_nationkey") === col("__mn"))
        .select(concat(lit("s"), col("s_suppkey")).as("seed"))
      graft.pipeline.Graph.ssspWeighted(edges, "src", "dst", "w",
        seeds, "seed", maxRounds = 3)
    }),
    "q187_changelog_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // CDC merge: the customer snapshot as base, the order stream as a
      // versioned changelog (orderkey = LSN; a deterministic op mix of
      // upserts, inserts, and deletes) — highest version wins per
      // customer, deletes drop the key, untouched customers ride through
      val base = read(s, d, "customer").select(
        col("c_custkey").as("k"), col("c_mktsegment").as("status"),
        col("c_name").as("note"))
      val changes = read(s, d, "orders").select(
        col("o_custkey").as("k"), col("o_orderstatus").as("status"),
        col("o_orderpriority").as("note"), col("o_orderkey").as("v"),
        when(col("o_orderkey") % 10 === 0, "D")
          .when(col("o_orderkey") % 3 === 0, "I").otherwise("U").as("op"))
      graft.pipeline.Relational.applyChangelog(
        base, changes, Seq("k"), "v", "op")
    }),
    "q188_transition_matrix" -> ((s, d) =>
      // first-order journey model over q142's sessions: per (from, to)
      // event-type pair the transition count and its truncating ppm share
      // of all transitions leaving `from` — exact integers end to end
      graft.pipeline.Relational.transitionMatrix(
        readEvents(s, d), "user_id", "event_id", "event_type",
        gapUnits = 600L)),
    "q189_survivorship" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // near-dup curation end-game: q42's verified minhash clusters, then
      // keep the best copy per cluster (longest text, ties to the
      // smallest doc_id) with the cluster's multiplicity for downstream
      // reweighting
      val docs = read(s, d, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("score"))
      val clusters = graft.pipeline.Dedup.minhashClusters(
        read(s, d, "documents"), "doc_id", "text", threshold = 0.5)
      graft.pipeline.Dedup.survivorship(
        docs, "doc_id", "score", clusters)
    }),
    "q190_point_in_time" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the SCD2 + as-of composition every warehouse runs: q162's
      // effective-dated state table (non-purchase event types as the
      // user's activity state), then each purchase enriched with the
      // state STRICTLY prior to it — first-purchase users get NULL
      val e = readEvents(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .where(col("user_id").isNotNull)
      val hist = graft.pipeline.Relational.scd2History(
        e.where(col("event_type") =!= "purchase"),
        keyCols = Seq("user_id"), versionCol = "event_id",
        attrCols = Seq("event_type"))
      val facts = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("t"))
      val dim = hist.select(col("user_id"), col("valid_from").as("t"),
        col("event_type").as("state_at"))
      graft.pipeline.Relational.asOfJoin(
        facts, dim, Seq("user_id"), "t", strict = true)
    }),
    "q191_streaming_upsert" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      // q187's CDC merge on a STREAM with O(1) per-key state (the single
      // highest-version change); AvailableNow over one file is a single
      // batch, so the window oracle pins the streaming recurrence exactly
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      val stream = readStreamTable(s, d, "orders", schema)
        .select(col("o_custkey").as("k"), col("o_orderkey").as("v"),
          col("o_orderstatus").as("payload"),
          when(col("o_orderkey") % 10 === 0, "D")
            .when(col("o_orderkey") % 3 === 0, "I").otherwise("U").as("op"))
      val state = graft.streaming.Streaming.streamingUpsert(
        stream, "k", "v", "op", "payload")
      drainToMemory(s, state, "q191mem", "update").select(col("entity").cast("long").as("k"),
        col("version").as("v"), col("op"), col("payload"))
    }),
    "q192_group_trend" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // is each event type's volume growing? per-period activity counts,
      // then the exact-rational least-squares trend per type — every
      // released value an integer, so the hash match is bit-exact
      val periods = readEvents(s, d)
        .where(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          expr("CAST(event_id AS BIGINT) div 600").as("period"))
        .agg(count(lit(1)).as("n_events"))
      graft.pipeline.CorpusStats.groupTrend(
        periods, Seq("event_type"), "period", "n_events")
    }),
    "q193_entry_conversion" -> ((s, d) =>
      // landing-type conversion: q142's sessions keyed by their FIRST
      // event type, purchase reach released as exact counts + ppm
      graft.pipeline.Relational.sessionConversion(
        readEvents(s, d), "user_id", "event_id", "event_type",
        gapUnits = 600L, convType = "purchase")),
    "q194_funnel_latency" -> ((s, d) =>
      // q135's conversion gaps as a DISTRIBUTION: per step pair the
      // median and p90 latency off the KLL sketch — exact regime at the
      // oracle SF (one gap per converting user, k=4096 >> that), so
      // every quantile is the rank-ceil order statistic
      graft.pipeline.Relational.funnelLatency(
        readEvents(s, d), "user_id", "event_type", "event_id",
        Seq("view", "click", "purchase"), percentiles = Seq(0.5, 0.9))),
    "q195_coverage_curve" -> ((s, d) =>
      // Zipf mass curve: the top-100 tokens with the cumulative ppm of
      // all corpus occurrences covered through each rank — the
      // vocab-budget table, exact integers end to end
      graft.pipeline.CorpusStats.coverageCurve(
        read(s, d, "documents"), "text", topN = 100)),
    "q196_fd_violations" -> ((s, d) =>
      // schema audit: the asserted dependency brand -> type, released as
      // every brand mapping to more than one part type with its spread
      graft.pipeline.Quality.fdViolations(
        read(s, d, "part"), Seq("p_brand"), "p_type")),
    "q198_ktruss" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // edge-level cohesion on the thin co-supply graph: the 4-truss
      // (every surviving edge closes >= 2 triangles among survivors) —
      // at the oracle SF the peel cascades 375 -> 78 -> 26 -> 24 edges
      // before the fixed point
      val li = read(s, d, "lineitem").where(col("l_quantity") <= 3)
        .select(col("l_orderkey").as("o"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val pairs = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.sn") < col("b.sn"))
        .select(col("a.sn").as("src"), col("b.sn").as("dst")).distinct()
      graft.pipeline.Graph.kTruss(pairs, "src", "dst", k = 4, maxRounds = 4)
    }),
    "q199_merge_intervals" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per-user activity coverage: each event opens a 300-unit window,
      // overlapping/touching windows collapse into maximal islands in
      // ONE user-keyed exchange (no interval self-join)
      val iv = readEvents(s, d)
        .where(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("event_id").as("lo"),
          (col("event_id") + 300L).as("hi"))
      graft.pipeline.Relational.mergeIntervals(
        iv, Seq("user_id"), "lo", "hi")
    }),
    "q200_period_deltas" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // WoW-style dashboard: per event type the activity of every
      // observed 600-unit period vs the previous observed period,
      // growth as exact truncating ppm
      val p = readEvents(s, d)
        .where(col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("event_type"),
          expr("CAST(event_id AS BIGINT) div 600").as("period"))
      graft.pipeline.Relational.periodDeltas(p, Seq("event_type"), "period")
    }),
    "q201_rfm_segments" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // supplier value grid: recency = latest order key, frequency =
      // line count, monetary = total quantity (exact integral units);
      // 5x5x5 NTILE grid, tile 1 best, id tie-break -> bit-stable
      val li = read(s, d, "lineitem").select(
        col("l_suppkey"), col("l_orderkey").cast("long").as("t"),
        col("l_quantity").cast("long").as("amt"))
      graft.pipeline.Relational.rfmSegments(li, "l_suppkey", "t", "amt")
    }),
    "q202_benford_audit" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // fabrication screen on order totals: leading-digit distribution
      // of floor(o_totalprice) vs the canonical Benford expectation —
      // floor() is exact on doubles, so both engines audit identical
      // integers
      val v = read(s, d, "orders").select(
        floor(col("o_totalprice")).cast("long").as("amount"))
      graft.pipeline.Quality.benfordAudit(v, "amount")
    }),
    "q203_categorical_profile" -> ((s, d) =>
      // schema-review table for the part dimension: per categorical
      // column its null ledger, cardinality, modal value and exact
      // integer Gini impurity — C columns in ONE melted scan
      graft.pipeline.Quality.categoricalProfile(
        read(s, d, "part"), Seq("p_brand", "p_type", "p_size"))),
    "q204_pair_affinity" -> ((s, d) =>
      // q166's co-purchase pairs ranked the way basket analysis ranks:
      // exact truncating lift and both directional confidences in ppm
      graft.pipeline.CorpusStats.pairAffinity(
        read(s, d, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 3L)),
    "q205_link_prediction" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // who should co-supply next: non-edge supplier pairs sharing >= 2
      // neighbors on q198's thin co-supply graph, ranked by exact
      // neighborhood Jaccard
      val li = read(s, d, "lineitem").where(col("l_quantity") <= 3)
        .select(col("l_orderkey").as("o"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val pairs = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.sn") < col("b.sn"))
        .select(col("a.sn").as("src"), col("b.sn").as("dst"))
      graft.pipeline.Graph.linkPrediction(pairs, "src", "dst",
        minCommon = 2L)
    }),
    "q206_correlation_sums" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the Pearson building blocks for the lineitem measures, released
      // as exact integers — r forms in floats at display time only
      val t = read(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice")).cast("long").as("price_f"),
        col("l_linenumber").cast("long").as("line"))
      graft.pipeline.CorpusStats.correlationSums(
        t, Seq("qty", "price_f", "line"))
    }),
    "q207_pareto_frontier" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per brand the smallest-cheapest shortlist: parts no other part
      // of the brand beats on BOTH size and floor(price)
      val t = read(s, d, "part").select(col("p_brand"),
        col("p_size").cast("long").as("size"),
        floor(col("p_retailprice")).cast("long").as("price_f"),
        col("p_partkey"))
      graft.pipeline.Relational.paretoFrontier(
        t, Seq("p_brand"), "size", "price_f")
    }),
    "q208_impute_mode" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // repair a synthetically-holed event type with each user cohort's
      // modal value; observed rows pass through bit-identical
      val ev = readEvents(s, d).where(col("user_id").isNotNull)
        .select((col("user_id") % 50).as("grp"), col("event_id"),
          when(col("event_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(col("event_type")).as("etype"))
      graft.pipeline.Quality.imputeMode(ev, Seq("grp"), "etype")
    }),
    "q209_table_digest" -> ((s, d) =>
      // Merkle-style reconciliation digest of orders: 64 bucket rows
      // stand in for the whole table when comparing replicas
      graft.pipeline.Quality.tableDigest(read(s, d, "orders"),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_orderpriority"),
        buckets = 64)),
    "q210_reach_profile" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // blast radius of one nation's suppliers on the undirected thin
      // co-supply graph: per seed the <=3-hop reach count, distance sum
      // and eccentricity — closeness's exact integer numerators
      val li = read(s, d, "lineitem").where(col("l_quantity") <= 3)
        .select(col("l_orderkey").as("o"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val p = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.sn") < col("b.sn"))
        .select(col("a.sn").as("x"), col("b.sn").as("y")).distinct()
      val e = p.select(col("x").as("src"), col("y").as("dst"))
        .unionByName(p.select(col("y").as("src"), col("x").as("dst")))
      val sup = read(s, d, "supplier")
      val minNation = sup.agg(min(col("s_nationkey"))).head.get(0)
      val seeds = sup.where(col("s_nationkey") === minNation)
        .select(concat(lit("s"), col("s_suppkey")).as("seed"))
      graft.pipeline.Graph.reachProfile(e, "src", "dst", seeds, "seed",
        maxHops = 3, maxSeeds = 256)
    }),
    "q211_join_hot_keys" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // pre-flight sizing of the lineitem-by-part self-join: the 20
      // part keys that would dominate its output, with exact row
      // products and ppm shares — the salting worklist
      val side = read(s, d, "lineitem")
        .select(col("l_partkey").as("k"))
      graft.pipeline.Relational.joinHotKeys(side, side, Seq("k"),
        topK = 20)
    }),
    "q215_negative_samples" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // BPR-style training pairs: for every observed (supplier, part)
      // positive, up to 2 deterministic hash-drawn negatives from the
      // part universe — the same epoch regenerates bit-identically
      val pos = read(s, d, "lineitem").select(
        col("l_suppkey").cast("string").as("supp"),
        col("l_partkey").cast("string").as("part"))
      graft.pipeline.Sampling.negativeSamples(pos, "supp", "part", k = 2)
    }),
    "q216_negative_samples_exact" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the exactly-k contract: every positive (supp, part) on the
      // low-quantity slice releases exactly 3 negatives — first-3
      // distinct non-positive items of the deterministic hash stream,
      // stragglers alone scanning the bounded remainder range
      val pos = read(s, d, "lineitem").where(col("l_quantity") <= 5)
        .select(col("l_suppkey").cast("string").as("supp"),
          col("l_partkey").cast("string").as("part"))
      graft.pipeline.Sampling.negativeSamplesExact(pos, "supp", "part", k = 3)
    }),
    "q217_bpe_merges" -> ((s, d) => {
      import s.implicits._
      // distributed BPE training over the full document corpus: the word
      // dictionary never lands on the driver, each merge is one keyed
      // aggregate + TakeOrdered(1) — release is the learned merge table
      // itself, fully deterministic (lexicographic tie-break)
      val m = graft.pipeline.Bpe.trainDistributed(
        read(s, d, "documents"), "text", numMerges = 4)
      m.merges.zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("step", "lhs", "rhs")
    }),
    "q220_bpe_merges_batched" -> ((s, d) => {
      import s.implicits._
      // q217's trainer with the BATCHED census (mergeBatch = 8): per
      // round the longest provably order-equivalent ranked prefix of
      // merges applies in one pass. Same oracle as q217 — the DuckDB
      // recurrence replays merges strictly sequentially, so a green row
      // here is an independent-engine proof that batching changed
      // NOTHING, on real corpus data (BpeSpec pins the same on random
      // adversarial corpora)
      val m = graft.pipeline.Bpe.trainDistributed(
        read(s, d, "documents"), "text", numMerges = 4, mergeBatch = 8)
      m.merges.zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("step", "lhs", "rhs")
    }),
    "q221_salted_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // hot-key salting end to end: lineitem (the skewed fact) salted
      // over 8 buckets against the supplier dim replicated per bucket,
      // then re-aggregated — released totals must equal the PLAIN join's
      // (the "semantically identical" contract), which is exactly what
      // the SQL oracle computes with no salt anywhere
      val fact = read(s, d, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      val dim = read(s, d, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.sources.Salting.saltedJoin(fact, dim, Seq("l_suppkey"), 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
    }),
    "q218_ivf_distributed_train" -> ((s, d) => {
      import s.implicits._
      // FULL-CORPUS coarse-quantizer training (no driver sample bound):
      // Ivf.trainDistributed rides kMeansMicro's integer Lloyd's — per
      // round one codegen'd NearestCentroid argmin projection + one
      // (cluster, dim)-keyed exchange; the driver holds k·dim longs only.
      // Release is the learned centroid table itself (micro-unit integers
      // divided by the scale — an exact IEEE division both engines round
      // identically), so the whole distributed trainer is oracled by the
      // unrolled two-iteration Lloyd recurrence in SQL, q176's discipline
      // extended one mean-update step (assignments release THERE, the
      // post-update centroids release HERE)
      val m = graft.pipeline.Ivf.trainDistributed(
        read(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 4, iters = 2)
      m.centroids.zipWithIndex.flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (v, di) => (ci, (di + 1).toLong, v) }
      }.toSeq.toDF("cluster", "dim", "value")
    }),
    "q219_streaming_dp_ledger" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      // the durable DP ledger END TO END, across a simulated driver crash:
      // run 1 streams the first half of events (ts <= 2999 s), its
      // windowed counts finalize under a 0-second watermark, and the
      // enforcedBatcher releases ONLY the budget-affordable prefix (3
      // window rows at eps 1 each of a 3.0 cap) in deterministic
      // (wstart, etype) order, charging the exact-rational ledger BEFORE
      // writing. Run 2 is a FRESH accountant (the crashed driver's lease
      // is stale at ttl=0) on the same ledger + checkpoint with the rest
      // of the stream: it must restore spend 3/3 from the slot files and
      // release NOTHING more, even though new windows finalize. The
      // released table is therefore exactly the 3 smallest finalized
      // (window, event_type) rows of the first half — plain SQL.
      val tmp = java.nio.file.Files.createTempDirectory("q219ledger")
        .toFile.getAbsolutePath
      val inDir = s"$tmp/in"
      val outDir = s"$tmp/out"
      val events = readEvents(s, d)
        .select(col("event_id"), col("event_type"))
      events.where(col("event_id") <= 2999L)
        .coalesce(1).write.mode("append").parquet(inDir)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType)))
      def runOnce(): Unit = {
        // fresh accountant each run = restart semantics; ttl 0 treats the
        // previous run's unreleased lease as a crashed holder's
        val acct = new graft.streaming.Streaming.DpStreamAccountant(
          totalEpsilon = 3.0, perWindowEpsilon = 1.0,
          ledgerPath = Some(s"$tmp/dp_ledger"), leaseTtlMs = 0L)
        val stream = s.readStream.schema(schema).parquet(inDir)
          .withColumn("ts", timestamp_seconds(col("event_id")))
        val counts = graft.streaming.Streaming.windowedCounts(
          stream, "ts", "event_type", "10 minutes", "0 seconds")
          .select(col("window.start").cast("long").as("wstart"),
            col("event_type"), col("count"))
        val q = counts.writeStream
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append")
          .foreachBatch(acct.enforcedBatcher(Seq("wstart", "event_type")) {
            kept => kept.write.mode("append").parquet(outDir)
          })
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce() // releases the 3 affordable rows, ledger at 3/3
      events.where(col("event_id") > 2999L)
        .coalesce(1).write.mode("append").parquet(inDir)
      runOnce() // restored spend: nothing affordable, nothing released
      s.read.parquet(outDir)
    }),
    "q213_scd_audit" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // audit a deliberately messy synthetic SCD (1000-wide validity
      // from each order, every 97th left open): per customer the
      // overlap/gap/open ledger a point-in-time join must survive
      val scd = read(s, d, "orders").where(col("o_custkey").isNotNull)
        .select(col("o_custkey"), col("o_orderkey").as("vfrom"),
          when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
            .otherwise(col("o_orderkey") + 1000L).as("vto"))
      graft.pipeline.Relational.scdAudit(
        scd, Seq("o_custkey"), "vfrom", "vto")
    }),
    "q214_sorted_neighbors" -> ((s, d) =>
      // merge/purge blocking over the part-name dictionary: every pair
      // within 3 ranks of the (name, id) total order — the candidate
      // set a verifier scores, bounded at n*w exactly
      graft.pipeline.Dedup.sortedNeighborPairs(
        read(s, d, "part").select("p_partkey", "p_name"),
        "p_partkey", "p_name", windowSize = 3)),
    "q212_streaming_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // live drift monitor: fixed domain edges, reference ppm derived
      // once from the full batch, then every 10-minute window's L1
      // distance and worst bin — all exact integers
      val edges = Seq(15.0, 35.0, 70.0)
      val batch = readEvents(s, d)
        .where(col("value").isNotNull && !isnan(col("value")))
      val v = col("value")
      val c = batch.agg(
        sum(when(v <= 15.0, 1L).otherwise(0L)),
        sum(when(v > 15.0 && v <= 35.0, 1L).otherwise(0L)),
        sum(when(v > 35.0 && v <= 70.0, 1L).otherwise(0L)),
        sum(when(v > 70.0, 1L).otherwise(0L)),
        count(lit(1))).head
      val n = c.getLong(4)
      val refPpm = (0 to 3).map(i =>
        if (n == 0L) 0L else c.getLong(i) * 1000000L / n)
      val stream = readStreamTable(s, d, "events", eventsSchema)
        .withColumn("ts", timestamp_seconds(col("event_id")))
      val drift = graft.streaming.Streaming.streamingDrift(
        stream, "ts", "value", edges, refPpm,
        "10 minutes", "0 seconds")
      val mem = drainToMemory(s, drift, "q212mem", "complete")
      // scalar release shape: one row per (window, bin) — the driver's
      // canonicalizer cannot sort array columns, so bin_counts explodes
      mem.select(
        col("window.start").cast("long").as("window_start"),
        col("window.end").cast("long").as("window_end"),
        col("n_rows"), col("l1_ppm"),
        col("worst_bin"), col("worst_delta_ppm"),
        posexplode(col("bin_counts")).as(Seq("bin", "bin_count")))
        .select(col("window_start"), col("window_end"), col("n_rows"),
          col("bin").cast("long").as("bin"), col("bin_count"),
          col("l1_ppm"), col("worst_bin"), col("worst_delta_ppm"))
    }),
    "q197_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      // hybrid-retrieval merge: per language, a length ranking and a
      // recency proxy ranking (doc_id asc) fused by reciprocal rank in
      // integer micro-units — bit-identical on any engine
      val docs = read(s, d, "documents").select(col("doc_id"),
        col("lang"), length(col("text")).cast("long").as("len"))
      val wA = Window.partitionBy(col("lang"))
        .orderBy(col("len").desc, col("doc_id"))
      val a = docs.select(col("lang"), col("doc_id"),
        row_number().over(wA).cast("long").as("rank"))
        .where(col("rank") <= 20)
      val wB = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      val b = docs.select(col("lang"), col("doc_id"),
        row_number().over(wB).cast("long").as("rank"))
        .where(col("rank") <= 20)
      graft.pipeline.Retrieval.reciprocalRankFusion(
        a.unionByName(b), "lang", "doc_id", "rank", k = 10)
    }),
    "q128_weighted_quota" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // A-ES weighted sampling: 20 docs per language, selection pressure
      // proportional to token count, membership deterministic via the md5
      // id-hash uniform — the exponential-key order reproduces in SQL
      val docs = read(s, d, "documents").withColumn("w",
        graft.pipeline.TextAnalysis.tokenCount(col("text")))
      graft.pipeline.Sampling.weightedQuota(docs, "lang", "doc_id", "w", 20)
        .select(col("lang"), col("doc_id"))
    }),
    "q127_corpus_mix_rollup" -> ((s, d) =>
      // every rollup level in ONE pass (native Expand + one exchange):
      // per-(lang, source) / per-lang / grand-total doc and token counts,
      // with grouping_level disambiguating rollup NULLs from data NULLs
      graft.pipeline.CorpusStats.corpusMix(
        read(s, d, "documents"), Seq("lang", "source"), "text")),
    "q151_normalize_text" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // canonical normalization released as md5(normalized): every 5th
      // doc gets a decomposed accent (e + U+0301), a BEL control char,
      // and a whitespace run appended — NFC must compose, the strip must
      // remove, the collapse must fold, and the JVM Normalizer and the
      // oracle's utf8proc must land on identical bytes
      val messy = concat(col("text"),
        lit(" caf"), lit("e\u0301"), lit("\u0007"), lit("  x"))
      val docs = read(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0, messy).otherwise(col("text")).as("t"))
      docs.select(col("doc_id"),
        md5(graft.pipeline.TextAnalysis.normalizeText(col("t"))).as("norm_md5"))
    }),
    "q160_weighted_ppr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // q148's seeded proximity over q153's trade-volume-weighted graph:
      // teleport mass on the nation-min suppliers, per-edge contribution
      // (r*w) div sum(w) — "closest to this group, by traded volume";
      // same exact integer recurrence, oracle unrolled with both twists
      val li = read(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = read(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("cn"),
          concat(lit("s"), col("l_suppkey")).as("sn"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"), col("w"))
        .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst"),
          col("w")))
      val sup = read(s, d, "supplier")
      val minNation = sup.agg(min(col("s_nationkey")).as("__mn"))
      val seeds = sup.crossJoin(broadcast(minNation))
        .where(col("s_nationkey") === col("__mn"))
        .select(concat(lit("s"), col("s_suppkey")).as("seed"))
      graft.pipeline.Graph.personalizedPageRankWeighted(
        edges, "src", "dst", "w", seeds, "seed", iterations = 2)
        .orderBy(col("rank_fp").desc, col("node")).limit(20)
    }),
    "q169_interval_overlap" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // same-part delivery-window conflicts: half-open [ship, ship+q%14+1)
      // day intervals, grid-cell equi-join keyed on (part, cell) with
      // reporting-cell dedup — never the per-key cartesian the naive
      // theta join plans; both orientations collapse via id_a < id_b
      val li = read(s, d, "lineitem")
        .withColumn("lo", datediff(col("l_shipdate").cast("date"),
          to_date(lit("1970-01-01"))).cast("long"))
        .select(col("l_partkey"),
          (col("l_orderkey") * 16 + col("l_linenumber")).as("id"),
          col("lo"),
          (col("lo") + col("l_quantity").cast("long") % 14 + 1).as("hi"))
      val a = li.select(col("l_partkey"), col("id").as("id_a"),
        col("lo").as("lo_a"), col("hi").as("hi_a"))
      val b = li.select(col("l_partkey"), col("id").as("id_b"),
        col("lo").as("lo_b"), col("hi").as("hi_b"))
      // cellWidth self-tunes: a KLL pre-pass pins it at the median
      // interval length (lengths are quantity%14+1, so ~7 days)
      // shuffleJoin: both exploded sides are the SAME fact table — the
      // planner's post-explode estimate broadcast one of them (a
      // single-threaded driver build; an OOM at scale)
      graft.pipeline.Relational.intervalOverlapJoin(
        a, b, Seq("l_partkey"), "lo_a", "hi_a", "lo_b", "hi_b",
        shuffleJoin = true)
        .where(col("id_a") < col("id_b"))
        .select(col("l_partkey"), col("id_a"), col("id_b"),
          col("lo_a"), col("lo_b"))
    }),
    "q168_session_table" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // durable session table: user sessions split at >100-id gaps,
      // released as (user, 1-based session index, start, end, count) —
      // one entity-keyed exchange for the gap window, the running index,
      // and the per-session rollup
      graft.pipeline.Relational.sessionTable(
        readEvents(s, d).select(col("user_id"), col("event_id")),
        entityCol = "user_id", timeCol = "event_id", gapUnits = 100L)
    }),
    "q167_streaming_attribution" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // q164's last-touch credit on a STREAM with O(1) per-entity state
      // (the single latest touch); AvailableNow over one file is a single
      // batch, so the batch oracle pins the streaming recurrence exactly
      val stream = readStreamTable(s, d, "events", eventsSchema)
      val credits = graft.streaming.Streaming.streamingAttribution(
        stream, "user_id", "event_type", "event_id",
        convType = "purchase",
        touchTypes = Seq("click", "view", "signup"), lookback = 500L)
      drainToMemory(s, credits, "q167mem", "update").select(col("entity").cast("long").as("user_id"),
        col("conv_time").as("event_id"), col("touch_type"), col("touch_time"))
    }),
    "q166_frequent_pairs" -> ((s, d) => {
      // co-purchase mining, A-priori-pruned: part pairs sharing >= 3
      // distinct orders; the basket self-join runs on the frequent
      // incidence only, so the one-off tail never hits the quadratic
      // stage
      graft.pipeline.CorpusStats.frequentPairs(
        read(s, d, "lineitem"), "l_orderkey", "l_partkey", minSupport = 3L)
    }),
    "q165_entity_resolution" -> ((s, d) => {
      // full record-linkage loop: edit-distance edges (d<=2) over the
      // distinct part-name dictionary, transitive closure via the
      // pointer-jumping component loop, each name released with its
      // cluster's lexicographically-smallest canonical form
      graft.pipeline.Dedup.resolveEntities(
        read(s, d, "part"), "p_name", maxDistance = 2)
    }),
    "q173_entity_resolution_frequent" -> ((s, d) => {
      // q165's closure with frequency-weighted canonicals: each cluster
      // canonicalizes to its most frequent ROW variant (tie -> smaller
      // name) — one extra name-keyed count and component-keyed max
      graft.pipeline.Dedup.resolveEntities(
        read(s, d, "part"), "p_name", maxDistance = 2,
        canonical = "frequent")
    }),
    "q164_touch_attribution" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // last-touch conversion credit: each purchase attributed to the
      // user's most recent click/view/signup within a 500-id lookback —
      // one entity-keyed window over all events (no touch self-join),
      // unattributed purchases released with NULL touch columns
      graft.pipeline.Relational.attribution(
        readEvents(s, d).select(col("user_id"), col("event_id"),
          col("event_type")),
        entityCol = "user_id", timeCol = "event_id", typeCol = "event_type",
        convType = "purchase",
        touchTypes = Seq("click", "view", "signup"), lookback = 500L)
    }),
    "q170_multi_touch_linear" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // multi-touch split of q164's credit: every in-window touch gets
      // 1/n — same single entity-keyed exchange, touches fold into one
      // collect_list window and explode AFTER the conversion filter
      graft.pipeline.Relational.multiTouchAttribution(
        readEvents(s, d).select(col("user_id"), col("event_id"),
          col("event_type")),
        entityCol = "user_id", timeCol = "event_id", typeCol = "event_type",
        convType = "purchase",
        touchTypes = Seq("click", "view", "signup"), lookback = 500L,
        model = "linear")
    }),
    "q171_multi_touch_position" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // U-shaped position-based credit: first and last touches take 0.4
      // each, the middle shares 0.2 (1 touch takes all, 2 split evenly)
      graft.pipeline.Relational.multiTouchAttribution(
        readEvents(s, d).select(col("user_id"), col("event_id"),
          col("event_type")),
        entityCol = "user_id", timeCol = "event_id", typeCol = "event_type",
        convType = "purchase",
        touchTypes = Seq("click", "view", "signup"), lookback = 500L,
        model = "position")
    }),
    "q172_time_decay_attribution" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // stepped exponential decay: touch weight halves every 50 id-units
      // of age; exact integer powers of two normalized per conversion,
      // so credits are engine-portable correctly-rounded doubles
      graft.pipeline.Relational.multiTouchAttribution(
        readEvents(s, d).select(col("user_id"), col("event_id"),
          col("event_type")),
        entityCol = "user_id", timeCol = "event_id", typeCol = "event_type",
        convType = "purchase",
        touchTypes = Seq("click", "view", "signup"), lookback = 500L,
        model = "time_decay", halfLife = 50L)
    }),
    "q178_winsorize" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // tail-taming: clip value at its own per-type [p01, p99] rank-ceil
      // quantiles (exact at k=4096 >> any group) — q163 removes, this
      // RETAINS at the fence; one sketch aggregate + broadcast clip join
      graft.pipeline.Quality.winsorize(
        readEvents(s, d).select(col("event_id"), col("event_type"),
          col("value")),
        Seq("event_type"), "value", pLo = 0.01, pHi = 0.99, k = 4096)
        .select(col("event_id"), col("event_type"), col("value"),
          col("lo_clip"), col("hi_clip"), col("winsorized"))
    }),
    "q175_robust_zscore" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // median/MAD robust z-scores per event_type — q163's fences
      // CLASSIFY, this RANKS severity; two KLL passes (MAD needs the
      // median first), both exact at k=4096 >> any group, so every score
      // is (x - quantile_disc median) / (quantile_disc MAD * 1.4826)
      graft.pipeline.Quality.robustZScores(
        readEvents(s, d).select(col("event_id"), col("event_type"),
          col("value")),
        Seq("event_type"), "value", k = 4096)
        .select(col("event_id"), col("event_type"), col("value"),
          col("median"), col("mad"), col("robust_z"))
    }),
    "q163_robust_outliers" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // Tukey-fence quarantine on the heavy-tailed value column, fences
      // per event_type from ONE KLL sketch aggregate in the exact regime
      // (k=4096 >> any group, so q1/q3 are rank-ceil order statistics =
      // quantile_disc); released rows are the quarantined tail only
      graft.pipeline.Quality.robustOutliers(
        readEvents(s, d).select(col("event_id"), col("event_type"),
          col("value")),
        groupCols = Seq("event_type"), valueCol = "value")
        .where(col("is_outlier"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("lo_fence"), col("hi_fence"))
    }),
    "q162_scd2_history" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // SCD2 build from a change log: each user's event_type timeline
      // collapsed into effective-dated runs (valid_from inclusive,
      // valid_to = the replacing version, NULL while the run is open) —
      // one exchange keyed on user_id shared by both windows, released
      // raw so every run boundary feeds the hash
      graft.pipeline.Relational.scd2History(
        read(s, d, "events").select(col("user_id"), col("event_id"),
          col("event_type")),
        keyCols = Seq("user_id"), versionCol = "event_id",
        attrCols = Seq("event_type"))
    }),
    "q161_edit_distance_pairs" -> ((s, d) => {
      // dictionary record linkage: every distinct part-name pair within
      // Levenshtein distance 2, recall exactly 1 (Ed-Join rarest-first
      // q-gram prefix blocking + complete length-band path for short
      // strings), so a quadratic DuckDB cross join over the 64-name
      // dictionary oracles the banded distributed plan
      graft.pipeline.Dedup.editDistancePairs(
        read(s, d, "part"), "p_name", maxDistance = 2)
    }),
    "q159_bm25_topk" -> ((s, d) => {
      import s.implicits._
      // lexical retrieval: top-5 docs per probe query by BM25 over the
      // inverted-index join (postings shuffle only for queried terms,
      // never a cross product). k1=1.25 / b=0.75 are binary-exact
      // literals so both engines see identical constants; every (query,
      // term, doc) contribution quantizes once to integer micro-units
      // from exact integer inputs (q107's portability discipline) and
      // docs sum exact BIGINTs
      val probes = Seq((1L, "fast hash join"), (2L, "slow table scan"),
        (3L, "stream window agg")).toDF("query_id", "qtext")
      graft.pipeline.Retrieval.bm25TopK(
        read(s, d, "documents"), "doc_id", "text",
        probes, "query_id", "qtext", k = 5, k1 = 1.25, b = 0.75)
    }),
    "q158_equi_depth_bins" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // length-bucketed batching's first step: quartile-depth bins of
      // document length from ONE bounded-state sketch aggregate (edges
      // are metadata — a single released row), tagging via a codegen'd
      // when-chain; exact regime, so the oracle re-derives the same
      // edges with quantile_disc and re-bins in SQL
      graft.pipeline.CorpusStats.equiDepthBins(
        read(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", nBins = 4)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),
    "q156_kll_rollup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // sketch once per fine (lang, source) group, roll up per lang by
      // UNIONING THE SKETCHES — no second read of the data (the KMV
      // rollup story for quantiles). Certificates compose: all fine
      // sketches are exact here and the merged buffers stay under k, so
      // the rollup is itself exact (err_units pinned 0) and the per-lang
      // quantiles hash-match quantile_disc over the raw column
      val k = 1024
      val fine = read(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(graft.exec.Kll.sketch(col("n_chars"), k).as("sk"),
          count(col("n_chars")).as("n_fine"))
      fine.groupBy(col("lang"))
        .agg(sum(col("n_fine")).as("n_rows"),
          graft.exec.Kll.unionQuantiles(col("sk"), k,
            Seq(0.25, 0.5, 0.75)).as("__u"))
        .select(col("lang"), col("n_rows"),
          col("__u.err_units").as("err_units"),
          col("__u.values")(0).as("p25"),
          col("__u.values")(1).as("p50"),
          col("__u.values")(2).as("p75"))
    }),
    "q174_streaming_quantile_rollup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // windowed KLL sketches on a STREAM (one bounded sketch per
      // tumbling day; raw values never cross the exchange), then
      // cumulative to-date quantiles re-derived from the released sketch
      // BYTES alone — the q156 rollup discipline across time. k=16384 >
      // total rows keeps every release in the exact regime: each is the
      // rank-ceil quantile of its day-prefix, certificate 0, oracled by
      // per-prefix quantile_disc
      val stream = readStreamTable(s, d, "events", eventsWithTsSchema)
      val sk = graft.streaming.Streaming.streamingWindowedSketches(
        stream, "ts", "value", windowDuration = "1 day",
        watermark = "0 seconds", k = 16384)
      val mem = drainToMemory(s, sk, "q174mem", "update")
      // single AvailableNow batch -> exactly one row per window (the
      // cumulativeQuantiles one-row-per-window contract); release shape
      // is scalar rows — the values array explodes to (percentile, value)
      // so the driver's canonicalizer never sees a list column
      val pcts = Seq(0.25, 0.5, 0.75)
      graft.streaming.Streaming.cumulativeQuantiles(
        mem, 16384, pcts)
        .select(col("window_start"), col("window_end"), col("n_windows"),
          col("n_rows"), col("err_units"),
          posexplode(col("values")).as(Seq("pi", "value")))
        .select(col("window_start"), col("window_end"), col("n_windows"),
          col("n_rows"), col("err_units"),
          element_at(array(pcts.map(lit): _*), col("pi") + 1)
            .as("percentile"),
          col("value"))
    }),
    "q181_streaming_multi_touch" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // q172's time-decay split on a STREAM: bounded per-entity touch
      // buffer (lookback-pruned, cap loud), identical integer-power-of-
      // two weights — a single AvailableNow batch is bit-identical to
      // the batch operator, so the q172 oracle applies verbatim
      val stream = readStreamTable(s, d, "events", eventsSchema)
      val credits = graft.streaming.Streaming.streamingMultiTouchAttribution(
        stream, "user_id", "event_type", "event_id",
        convType = "purchase", touchTypes = Seq("click", "view", "signup"),
        lookback = 500L, model = "time_decay", halfLife = 50L)
      drainToMemory(s, credits, "q181mem", "update").select(col("entity").cast("long").as("user_id"),
        col("conv_time").as("event_id"), col("touch_type"),
        col("touch_time"), col("credit"))
    }),
    "q180_streaming_interval_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // stream-stream enrichment: every click paired with the same
      // user's views from the trailing hour — Spark's symmetric hash
      // join made bounded-state by the watermarks + explicit time-range
      // condition; single AvailableNow batch = batch-equivalent, oracled
      // by the corresponding DuckDB range join
      def stream() = readStreamTable(s, d, "events", eventsWithTsSchema)
      val clicks = stream().where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
          col("event_id").as("click_id"))
      val views = stream().where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"),
          col("event_id").as("view_id"))
      val joined = graft.streaming.Streaming.streamingIntervalJoin(
        clicks, views, Seq("user_id"), "cts", "vts",
        "0 seconds", "0 seconds", within = "1 hour")
      drainToMemory(s, joined, "q180mem", "append").select(col("user_id"), col("click_id"), col("view_id"))
    }),
    "q177_cumulative_distinct" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // running unique-users line: one bounded KMV sketch per tumbling
      // day on the stream, cumulative to-date distinct count re-derived
      // from the sketch hashes alone — k=1024 > the 150-user universe
      // keeps every release exact (the retained-hash count), oracled by
      // per-day-prefix COUNT(DISTINCT)
      val stream = readStreamTable(s, d, "events", eventsWithTsSchema)
      val sk = graft.streaming.Streaming.streamingWindowedDistinct(
        stream, "ts", "user_id", windowDuration = "1 day",
        watermark = "0 seconds", k = 1024)
      graft.streaming.Streaming.cumulativeDistinct(
        drainToMemory(s, sk, "q177mem", "update"), 1024)
    }),
    "q157_streaming_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per-event-type quantiles over a STREAM with bounded per-key state
      // (one serialized sketch per key, O(k log n) bytes): k=4096 keeps
      // every type in the exact regime at the correctness SF, so the
      // released values are the rank-ceil order statistics of everything
      // streamed — batch-equivalent by construction and oracled by
      // quantile_disc. Update-mode sink emits once per (key, batch);
      // reduced to each key's latest (max n) release, q143's
      // batch-count-invariance discipline
      val stream = readStreamTable(s, d, "events", eventsSchema)
      val rel = graft.streaming.Streaming.streamingQuantiles(
        stream, "event_type", "value", k = 4096, Seq(0.25, 0.5, 0.75))
      val t = drainToMemory(s, rel, "q157mem", "update")
      // rename the aggregate side: a self-join of the memory view against
      // its own aggregate carries the same attribute ids on both sides
      val latest = t.groupBy(col("key")).agg(max(col("n")).as("n"))
        .select(col("key").as("__k"), col("n").as("__n"))
      t.join(latest, col("key") === col("__k") && col("n") === col("__n"))
        .select(col("key").as("event_type"), col("n").as("n_rows"),
          col("errUnits").as("err_units"),
          col("values")(0).as("p25"), col("values")(1).as("p50"),
          col("values")(2).as("p75"))
    }),
    "q154_kll_exact_regime" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // bounded-state quantile sketch, EXACT regime (the q126/q137
      // two-regime discipline): per-event-type profile of the continuous
      // value column on a 1/7 slice, k=4096 >> any group — nothing ever
      // compacts, err_units pins 0 in the oracle, and every percentile
      // is the rank-ceil order statistic, hash-matching quantile_disc
      val ev = readEvents(s, d).where(col("event_id") % 7 === 0)
      graft.pipeline.CorpusStats.numericProfileSketched(
        ev, Seq("event_type"), "value", Seq(0.25, 0.5, 0.75), k = 4096)
    }),
    "q155_kll_certificate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the ESTIMATOR regime released as a certificate, not a point
      // estimate: k=128 against 10k values forces ~78 level-0
      // compactions, and the sketch's errUnits ledger (one weight-w
      // charge per compaction) must bound the TRUE rank slack of every
      // released quantile — checked in-plan against an exact rank pass,
      // under this run's real partitioning. estimator_regime pins
      // err > 0 (the anchor is not vacuously exact) and bounded pins
      // err < n/8 (the ledger stays a useful fraction of n)
      val ps = Seq(0.1, 0.5, 0.9)
      val k = 128
      val ev = readEvents(s, d)
        .select(col("value").cast("double").as("v"))
        .where(col("v").isNotNull)
      val sk = ev.agg(graft.exec.Kll.quantiles(col("v"), k, ps).as("s"))
        .select(col("s.n").as("n"), col("s.err_units").as("err"),
          col("s.values").as("vals"))
      val rankAggs: Seq[org.apache.spark.sql.Column] =
        Seq(first(col("n")).as("n"), first(col("err")).as("err")) ++
          ps.indices.flatMap(i => Seq(
            sum(when(col("v") < col("vals")(i), 1L).otherwise(0L)).as(s"lt$i"),
            sum(when(col("v") <= col("vals")(i), 1L).otherwise(0L)).as(s"le$i")))
      val ranked = ev.crossJoin(broadcast(sk))
        .agg(rankAggs.head, rankAggs.tail: _*)
      ranked.select(explode(array(ps.zipWithIndex.map { case (q, i) =>
        struct(lit(q).as("p"), col("n"),
          ceil(lit(q) * col("n")).cast("long")
            .between(col(s"lt$i") + 1L - col("err"),
              col(s"le$i") + col("err")).as("within_bound"),
          (col("err") > 0L).as("estimator_regime"),
          (col("err") * 8L < col("n")).as("bounded"))
      }: _*)).as("c"))
        .select(col("c.p"), col("c.n"), col("c.within_bound"),
          col("c.estimator_regime"), col("c.bounded"))
    }),
    "q152_quality_quarantine" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // row-level companion to q150: the violating rows themselves, each
      // tagged with every rule it breaks — quarantine routing. Every rule
      // class fires: range + set on real data, uniqueness on a
      // deterministic %97 duplication, FK against a dim with %5 keys
      // removed; not_null passes (lang has no nulls — a clean rule must
      // tag nothing)
      val Q = graft.pipeline.Quality
      import Q.Expect._
      val base = read(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val docs = base.unionByName(base.where(col("doc_id") % 97 === 0))
      val dim = read(s, d, "embeddings").select(col("vec_id"))
        .where(col("vec_id") % 5 =!= 0)
      Q.quarantine(docs, Seq(
        NotNull("lang"),
        InRange("n_chars", 1, 400),
        InSet("lang", Seq("en", "de", "fr")),
        Unique(Seq("doc_id")),
        ForeignKey(Seq("doc_id"), dim, Seq("vec_id"), "embeddings")))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          concat_ws(",", col("violated_rules")).as("rules_str"))
    }),
    "q153_weighted_pagerank" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // q139's trade graph with its natural edge weight — the number of
      // lineitems linking a customer and a supplier — so rank mass splits
      // by trade volume instead of evenly; same exact integer recurrence,
      // oracle unrolled with the weighted contribution (r*w) // sum(w)
      val li = read(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = read(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(concat(lit("c"), col("o_custkey")).as("cn"),
          concat(lit("s"), col("l_suppkey")).as("sn"))
        .agg(count(lit(1)).as("w"))
      val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"), col("w"))
        .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst"),
          col("w")))
      graft.pipeline.Graph.pageRankWeighted(edges, "src", "dst", "w",
        iterations = 3)
        .orderBy(col("rank_fp").desc, col("node")).limit(20)
    }),
    "q150_data_quality" -> ((s, d) => {
      // declarative expectations over lineitem: row-local rules share one
      // scan, uniqueness rides it as a count-distinct, the FK is one
      // anti-join; the tightened range rule is there to FAIL so the
      // report exercises both verdicts
      val Q = graft.pipeline.Quality
      import Q.Expect._
      Q.report(read(s, d, "lineitem"), Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1, 50),
        InRange("l_quantity", 1, 25),
        InSet("l_returnflag", Seq("A", "N", "R")),
        MatchesRegex("l_linestatus", "[A-Z]"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ForeignKey(Seq("l_orderkey"), read(s, d, "orders"),
          Seq("o_orderkey"), "orders")))
    }),
    "q149_bipartite_projection" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the weighted co-supplier graph: suppliers projected over shared
      // orders, pairs kept at support >= 3 — the co-occurrence builder
      // that feeds the triangle/PageRank family
      val li = read(s, d, "lineitem")
        .select(col("l_orderkey").as("order_key"),
          concat(lit("s"), col("l_suppkey")).as("supp"))
      graft.pipeline.Graph.bipartiteProject(
        li, "order_key", "supp", minShared = 3L)
    }),
    "q148_personalized_pagerank" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // graph proximity to the nation-min suppliers: teleport mass lands
      // only on the seed set, same exact integer recurrence as q139 —
      // "which customers/suppliers sit closest to this group"
      val li = read(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = read(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("cn"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"))
        .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
      val sup = read(s, d, "supplier")
      val minNation = sup.agg(min(col("s_nationkey")).as("__mn"))
      val seeds = sup.crossJoin(broadcast(minNation))
        .where(col("s_nationkey") === col("__mn"))
        .select(concat(lit("s"), col("s_suppkey")).as("seed"))
      graft.pipeline.Graph.personalizedPageRank(
        edges, "src", "dst", seeds, "seed", iterations = 2)
        .orderBy(col("rank_fp").desc, col("node")).limit(20)
    }),
    "q146_triangle_count" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per-node triangles of the co-supplier graph (suppliers sharing
      // an order), on the deterministic 1/7 supplier subsample that
      // keeps the dense graph's O(m^1.5) wedge volume test-sized; the
      // degree-ordered orientation is a pure function of (degree, id),
      // so the oracle reproduces every wedge in SQL
      val li = read(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .where(col("l_suppkey") % 7 === 0).distinct()
      val edges = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_suppkey") < col("y.l_suppkey"))
        .select(concat(lit("s"), col("x.l_suppkey")).as("u"),
          concat(lit("s"), col("y.l_suppkey")).as("v"))
      graft.pipeline.Graph.triangleCounts(edges, "u", "v")
    }),
    "q147_snapshot_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // change-data-capture between two deterministic corpus versions:
      // v2 drops doc_id % 11 == 0, rewrites text for % 7 == 0 (marker
      // suffix), and adds fresh ids at +10^7 for % 13 == 0 — the diff
      // classifies every key in ONE full outer join
      val before = read(s, d, "documents").select(col("doc_id"), col("text"))
      val after = before
        .where(col("doc_id") % 11 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")))
        .unionByName(before.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            lit("new doc").as("text")))
      graft.pipeline.Relational.snapshotDiff(
        before, after, Seq("doc_id"))
    }),
    "q143_streaming_funnel" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the q130 funnel on a STREAM with fixed per-entity state (one
      // timestamp per step, no event buffer); AvailableNow makes this
      // batch-equivalent, so q130's oracle pins the streaming recurrence
      val stream = readStreamTable(s, d, "events", eventsSchema)
      val steps = Seq("view", "click", "purchase")
      val reach = graft.streaming.Streaming.streamingFunnel(
        stream, "user_id", "event_type", "event_id", steps)
      val mem = drainToMemory(s, reach, "q143mem", "update")
      // update-mode memory sink appends one row per entity PER BATCH —
      // reduce to each entity's latest (max) stage before counting, so the
      // result is invariant to how the input splits into batches
      // (AvailableNow over one file happens to be a single batch, but
      // multi-file inputs or maxFilesPerTrigger must not double-count)
      val latest = mem.groupBy(col("entity"))
        .agg(max(col("stage")).as("stage"))
      import s.implicits._
      steps.zipWithIndex.map { case (st, i) =>
        (i + 1, st, latest.where(col("stage") >= i + 1).count())
      }.toDF("step", "step_name", "n_entities")
    }),
    "q144_zero_fill_series" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // purchase counts per 600-unit bucket with gaps zero-filled over
      // the full observed range — resampling before windows/diffs; the
      // raise_error off-grid guard is structurally satisfied (buckets
      // are built as t*600)
      val series = readEvents(s, d)
        .where(col("event_type") === "purchase")
        .groupBy((expr("CAST(event_id AS BIGINT) div 600") * 600L).as("bucket"))
        .agg(count(lit(1)).as("n_purchases"))
      graft.pipeline.Relational.zeroFillSeries(
        series, "bucket", 600L, Seq("n_purchases"))
    }),
    "q145_rolling_window_stats" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per-user trailing 600-unit activity at every event: count/min/max
      // over the RANGE frame (order-free stats only — a rolling double
      // sum would be engine-order-sensitive)
      graft.pipeline.Relational.rollingStats(
        readEvents(s, d).select(col("event_id"), col("user_id"), col("value")),
        "user_id", "event_id", "value", rangePreceding = 600L)
    }),
    "q141_bfs_distances" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // blast radius over the q139 trade graph: minimum hop count from
      // the nation-0 suppliers, level-synchronous frontier BFS — exact
      // integer distances, mirrored by a recursive SQL CTE
      val li = read(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = read(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("cn"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"))
        .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
      // seed on the MINIMUM nation key present (not a literal nation):
      // non-empty at every SF, still a pure function of the data
      val sup = read(s, d, "supplier")
      val minNation = sup.agg(min(col("s_nationkey")).as("__mn"))
      val seeds = sup.crossJoin(broadcast(minNation))
        .where(col("s_nationkey") === col("__mn"))
        .select(concat(lit("s"), col("s_suppkey")).as("seed"))
      graft.pipeline.Graph.bfsDistances(edges, "src", "dst", seeds, "seed",
        maxHops = 4)
    }),
    "q142_session_paths" -> ((s, d) =>
      // user-journey census: sessions split on event_id gaps > 600, each
      // session rendered as its ordered event-type path, top 20 paths by
      // session count (count desc, path tiebreak)
      graft.pipeline.Relational.sessionPaths(
        readEvents(s, d), "user_id", "event_id", "event_type",
        gapUnits = 600L, k = 20)),
    "q138_containment_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // fragment-level duplication: token-level containment pairs over
      // the corpus plus derived 10-token snippet docs (ids "s<doc_id>"),
      // the planted-containment pattern that keeps the oracle non-trivial
      // at every SF. Winnowing fingerprints guarantee every contained doc
      // of >= w+k-1 tokens shares a fingerprint with its container, so
      // the candidate equi-join loses no recall; exact padded-substring
      // verify kills false candidates
      val docs = read(s, d, "documents")
      val toks = split(trim(lower(col("text"))), "\\s+")
      val snippets = docs.where(size(toks) >= 15)
        .select(concat(lit("s"), col("doc_id")).as("doc_id"),
          array_join(slice(toks, 1, 10), " ").as("text"))
      val corpus = docs
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
        .unionByName(snippets)
      graft.pipeline.Dedup.containedDocs(corpus, "doc_id", "text")
    }),
    "q179_label_propagation" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // communities in the supplier co-supply graph (suppliers sharing an
      // order): synchronous LPA with pinned tie-breaks (most frequent
      // neighbor label, ties to the smallest), so the oracle unrolls the
      // identical recurrence in SQL and every label matches exactly
      val li = read(s, d, "lineitem")
        .select(col("l_orderkey").as("o"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val pairs = li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.sn") < col("b.sn"))
        .select(col("a.sn").as("src"), col("b.sn").as("dst")).distinct()
      // assumeCanonical: pairs is distinct with a.sn < b.sn — one
      // orientation per pair by construction, so LPA's symmetrize
      // distinct (a full 2|E| shuffle) is provably a no-op
      graft.pipeline.Graph.labelPropagation(pairs, "src", "dst",
        iterations = 2, assumeCanonical = true)
    }),
    "q139_pagerank" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // PageRank over the bipartite customer<->supplier trade graph
      // (distinct edges both directions wherever a lineitem links them),
      // in EXACT fixed-point arithmetic: every iteration is integer
      // division + integer sums, so the oracle unrolls the identical
      // recurrence in SQL and the top-20 ranks match bit for bit
      val li = read(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = read(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("cn"),
          concat(lit("s"), col("l_suppkey")).as("sn")).distinct()
      val edges = pairs.select(col("cn").as("src"), col("sn").as("dst"))
        .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
      graft.pipeline.Graph.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy(col("rank_fp").desc, col("node")).limit(20)
    }),
    "q140_global_ntile" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // global quartiles by text length (doc_id tiebreak) through the
      // two-phase rank — no single-task window — summarized per bucket;
      // identical buckets to SQL NTILE(4)
      val docs = read(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("len"))
      graft.exec.Ranks
        .globalNtile(docs, Seq(col("len").desc, col("doc_id")), 4)
        .groupBy("ntile").agg(count(lit(1)).as("n_docs"),
          min("len").as("min_len"), max("len").as("max_len"),
          sum("len").as("sum_len"))
    }),
    "q137_kmv_estimator_regime" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // KMV past saturation: q126 pins the exact regime (distinct < k,
      // every hash retained); this anchors the ESTIMATOR regime (k-1)/U_(k)
      // with a driver-visible contract. k=512 puts every lang's 3-shingle
      // count (>= ~3k at every SF) well past the sketch, the relative
      // error concentrates at 1/sqrt(k-2) ~ 4.4%, and the released
      // boolean allows 4 sigma. Fine sketches per (lang, source) roll up
      // via unionAgg; theta-sketch composability makes the rollup
      // BIT-IDENTICAL to a direct per-lang sketch (the k smallest hashes
      // of a union each survive their own source's k smallest), released
      // as an exact equality, not a tolerance. xxhash64 is seedless-fixed:
      // no RNG anywhere, both booleans are pure functions of the data
      val k = 512
      val K = graft.exec.Kmv
      val sh = read(s, d, "documents").select(col("lang"), col("source"),
        explode(graft.pipeline.Dedup.lowerShinglesCol(col("text"), 3)).as("g"))
      val fine = sh.groupBy("lang", "source").agg(K.sketch(col("g"), k).as("sk"))
      val rolled = fine.groupBy("lang").agg(K.unionAgg(col("sk"), k).as("rsk"))
      val direct = sh.groupBy("lang").agg(K.sketch(col("g"), k).as("dsk"))
      val exact = sh.groupBy("lang").agg(countDistinct(col("g")).as("n_shingles"))
      exact.join(rolled, "lang").join(direct, "lang")
        .select(col("lang"), col("n_shingles"),
          (abs(K.estimate(col("dsk"), k) - col("n_shingles").cast("double")) <=
            lit(0.177) * col("n_shingles").cast("double")).as("est_within_4sigma"),
          (col("rsk") === col("dsk")).as("rollup_exact"))
    }),
    "q126_kmv_overlap" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // KMV/theta sketches answer what HLL cannot: DISTINCT-SET ALGEBRA.
      // One bounded mergeable sketch per split (k smallest 64-bit shingle
      // hashes), then union/intersection as pure array projections over
      // the released sketches — the contamination-planning question "how
      // many shingles do these corpora share" without an Expand plan. At
      // test SFs the true distinct counts sit under k, the regime where
      // every hash is retained and all four numbers are EXACT (q110's
      // exact-regime anchoring pattern)
      val k = 1 << 15
      val K = graft.exec.Kmv
      val sh = read(s, d, "documents").select(
        (col("doc_id") % 2 === 0).as("even"),
        explode(graft.pipeline.Dedup.lowerShinglesCol(col("text"), 3)).as("g"))
      // two rows (one sketch per side): pin them so referencing each side
      // doesn't re-run the corpus aggregation per reference
      val sketches = sh.groupBy("even").agg(K.sketch(col("g"), k).as("sk"))
        .pin("q126_kmv_overlap sketches")
      val a = sketches.filter(col("even")).select(col("sk").as("ska"))
      val b = sketches.filter(!col("even")).select(col("sk").as("skb"))
      a.crossJoin(b).select(
        round(K.estimate(col("ska"), k)).cast("long").as("n_even"),
        round(K.estimate(col("skb"), k)).cast("long").as("n_odd"),
        round(K.estimate(K.union(col("ska"), col("skb"), k), k))
          .cast("long").as("n_union"),
        round(K.intersectEstimate(col("ska"), col("skb"), k))
          .cast("long").as("n_intersection"))
    }),
    "q125_connected_components" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      // first-class graph primitive: components of the per-user event-chain
      // graph (consecutive events linked), whose TRUE labels are derivable
      // per user (min event_id) — so the oracle is exact while the engine
      // sees only an anonymous edge list. Chains are ~67 hops at sf0.01:
      // deep enough that naive bounded propagation would be wrong, pinning
      // the union-find/propagation convergence contract
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val edges = readEvents(s, d)
        .select(col("event_id"), lag("event_id", 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
      graft.pipeline.Dedup.connectedComponents(edges, "prev", "event_id")
    }),
    "q124_numeric_profile" -> ((s, d) =>
      // exact per-group distribution profile: count/min/max + interpolated
      // percentiles (quantile_cont definition). State is a value->count
      // histogram per group (50 distinct quantities), not O(rows)
      graft.pipeline.CorpusStats.numericProfile(
        read(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"),
        "l_quantity", percentiles = Seq(0.25, 0.5, 0.75, 0.9))),
    "q123_distinct_sketch_rollup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // mergeable HLL distinct-count sketches, the 100-TB count-distinct
      // shape: per-(lang, source) sketches roll up to per-lang WITHOUT
      // re-reading the corpus. Exact-equality between rollup and a direct
      // per-lang sketch is NOT promised (HIP vs standard estimator — see
      // rollupDistinctSketch's header); the contract is that BOTH paths
      // land within 5% of the exact count (~8 sigma of slack at lgK=14).
      // DataSketches HLL has no RNG, so both booleans are deterministic
      // and driver-oracled as TRUE
      val docs = read(s, d, "documents")
      val fine = graft.pipeline.CorpusStats.distinctSketch(
        docs, Seq("lang", "source"), "doc_id")
      val rolled = graft.pipeline.CorpusStats.rollupDistinctSketch(
        fine, Seq("lang"))
      val direct = graft.pipeline.CorpusStats.distinctSketch(
        docs, Seq("lang"), "doc_id")
      val exact = docs.groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_distinct"))
      def within5(est: org.apache.spark.sql.Column) =
        abs(est.cast("double") - col("n_distinct").cast("double")) <=
          lit(0.05) * col("n_distinct").cast("double")
      exact
        .join(rolled.select(col("lang"), col("n_distinct_est").as("__roll")), "lang")
        .join(direct.select(col("lang"), col("n_distinct_est").as("__direct")), "lang")
        .select(col("lang"), col("n_distinct"),
          within5(col("__roll")).as("rollup_within_5pct"),
          within5(col("__direct")).as("est_within_5pct"))
    }),
    "q83_top_tokens_by_lang" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per-language vocabulary summary: grouped heavy hitters via a
      // streaming per-group rank, not a global sort
      graft.pipeline.CorpusStats.topKTokensByGroup(
        read(s, d, "documents"), "lang", "text", k = 5)
        .select(col("lang"), col("token"), col("n"),
          col("rank").cast("long").as("rank"))
    }),
    "q84_boilerplate_ngrams" -> ((s, d) =>
      // boilerplate census: word bigrams appearing in >= 20 distinct docs
      // (each doc votes each gram once)
      graft.pipeline.CorpusStats.ngramDocFrequency(
        read(s, d, "documents"), "doc_id", "text", n = 2, minDocs = 20)),
    "q89_strip_boilerplate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // line-level boilerplate removal. The synthetic corpus is single-line,
      // so the query injects per-source header and per-lang footer lines
      // (mirrored exactly in the oracle); those reach >= 5 distinct docs and
      // are struck from every text, the body lines survive. The census
      // shuffles 8-byte line hashes only; the rewrite is map-side.
      val docs = read(s, d, "documents").withColumn("text",
        concat_ws("\n",
          concat(lit("== "), col("source"), lit(" header ==")),
          col("text"),
          concat(lit("-- "), col("lang"), lit(" footer --"))))
      graft.pipeline.CorpusStats
        .stripBoilerplateLines(docs, "doc_id", "text", minDocs = 5)
        .select(col("doc_id"), col("text").as("clean_text"), col("n_removed"))
    }),
    "q90_mixture_upsample" -> ((s, d) =>
      // target-mix upsampling: de x2.5, zh x3, es x0.5, fr dropped, rest x1.
      // Pure map-side explode; the fractional copy's membership is id-hash
      // arithmetic reproducible in any engine.
      graft.pipeline.Sampling.mixtureUpsample(
        read(s, d, "documents").select("doc_id", "lang"),
        "lang", "doc_id",
        Seq("de" -> 2.5, "es" -> 0.5, "fr" -> 0.0, "zh" -> 3.0),
        defaultWeight = 1.0)),
    "q91_json_props" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // semi-structured sidecar metadata: JSON path extraction is a
      // codegen'd map-side projection (no UDF, no shuffle before the one
      // keyed aggregation) — the metadata-parsing step of every
      // event/web-crawl pipeline
      read(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
          min("k").as("k_min"), max("k").as("k_max"))
    }),
    "q88_quantize_int8" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // int8 embedding storage layout; the per-vector integer census
      // (sum/min/max of quantized elements) pins every element exactly
      val qv = graft.pipeline.Similarity.quantizeInt8(col("embedding"))
      read(s, d, "embeddings")
        .select(col("vec_id"), qv.as("__q"))
        .select(col("vec_id"),
          aggregate(col("__q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          array_min(col("__q")).as("q_min"),
          array_max(col("__q")).as("q_max"))
    }),
    "q87_tfidf_terms" -> ((s, d) =>
      // per-document characteristic terms: rank-only contract (the
      // ln-based score stays internal; released columns are integers and
      // strings — see CorpusStats.topTfidfTerms scaladoc)
      graft.pipeline.CorpusStats.topTfidfTerms(
        read(s, d, "documents"), "doc_id", "text", k = 3)),
    "q85_pack_chunks" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // concat-and-chunk training layout: 2048-token chunks over the
      // id-ordered token stream; census per chunk
      val docs = read(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("ntok"))
      graft.pipeline.Packing.chunkProfile(docs, "doc_id", "ntok", chunkTokens = 2048)
        .orderBy("chunk_id")
    }),
    "q81_stratified_quota" -> ((s, d) => {
      // per-group caps for training-mix balancing: each o_orderstatus
      // keeps its 100 smallest id-hashes — membership reproduces in SQL
      graft.pipeline.Sampling.stratifiedQuota(
        read(s, d, "orders"), "o_orderstatus", "o_orderkey", quota = 100)
        .select("o_orderstatus", "o_orderkey")
    }),
    "q92_chunk_slices" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the loader-side packing view: each document's slice per 256-token
      // chunk it touches (boundary-spanning docs emit several slices)
      val docs = read(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("ntok"))
      graft.pipeline.Packing.chunkSlices(docs, "doc_id", "ntok", chunkTokens = 256)
    }),
    "q93_dedup_lines" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // intra-document line dedup. The synthetic corpus is single-line, so
      // the query assembles a repeating 4-line document (body, footer, body,
      // footer — mirrored exactly in the oracle); the repeats are struck,
      // first occurrences stay in order. Pure map-side projection.
      read(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.dedupLines(concat_ws("\n",
            col("text"), lit("-- footer --"), col("text"), lit("-- footer --")))
            .as("text"))
    }),
    "q94_sliding_windows" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // overlapping token windows for embedding/retrieval indexing:
      // 32-token windows every 16 tokens. The windowing is a pure Catalyst
      // array expression; the explode is map-side — zero shuffle.
      read(s, d, "documents")
        .select(col("doc_id"), posexplode(
          graft.pipeline.TextAnalysis.slidingWindows(col("text"), 32, 16))
          .as(Seq("win_idx", "wtext")))
        .withColumn("win_idx", col("win_idx").cast("long"))
    }),
    "q95_contamination_scores" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // q77's remove-list as a triage view: per-document matched-8-gram
      // counts against the same every-100th-doc stand-in eval suite.
      // Blocklist broadcast; corpus text never shuffles; counts combine
      // map-side on doc_id.
      val docs = read(s, d, "documents")
      graft.pipeline.Dedup.contaminationScores(
        docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 100 === 0), "text", n = 8)
    }),
    "q96_cdc_chunks" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // content-defined chunking: rolling-hash boundaries (expected ~64
      // tokens) make chunk identity insertion-tolerant, so chunk-hash
      // dedup finds shared passages anywhere in a document. Kernel + map-
      // side explode — zero shuffle.
      read(s, d, "documents")
        .select(col("doc_id"), posexplode(
          graft.pipeline.Dedup.contentDefinedChunks(col("text")))
          .as(Seq("chunk_idx", "ch")))
        .select(col("doc_id"), col("chunk_idx").cast("long"),
          col("ch.start").cast("long").as("chunk_start"),
          col("ch.len").cast("long").as("chunk_len"),
          col("ch.hash").as("chunk_hash"))
    }),
    "q97_oov_rate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // rare-token quality signal: per-doc fraction of token occurrences
      // outside the corpus's own top-500 vocabulary. Vocab broadcast;
      // only the id-keyed count agg shuffles.
      graft.pipeline.CorpusStats.oovRate(
        read(s, d, "documents"), "doc_id", "text", vocabSize = 500)
    }),
    "q98_padding_profile" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // inference-batching cost report: bucket edges in tokens, per-bucket
      // padded cost / waste / fill rate. One tiny keyed aggregation.
      val docs = read(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.tokenCount(col("text")).as("ntok"))
      graft.pipeline.Packing.paddingProfile(docs, "ntok",
        Seq(16L, 64L, 256L, 1024L))
    }),
    "q99_corpus_diff" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // snapshot diff: the "old" crawl lacks doc_id % 10 == 0, the "new"
      // lacks % 10 == 1 and reformats % 7 == 0 (whitespace only — reads as
      // kept) while rewriting % 13 == 0 (reads as changed). Both sides
      // reduce to (id, fingerprint) before the one id-keyed full join.
      val docs = read(s, d, "documents")
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val neu = docs.filter(col("doc_id") % 10 =!= 1)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(lit("REWRITTEN "), col("text")))
            .when(col("doc_id") % 7 === 0, concat(col("text"), lit("   ")))
            .otherwise(col("text")))
      graft.pipeline.CorpusStats.corpusDiff(old, neu, "doc_id", "text")
    }),
    "q100_dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // ingest-time dedup: the batch (doc_id % 5 == 0, half rewritten) keeps
      // only documents whose canonical text the history (doc_id % 4 != 0)
      // has never accepted. History reduces to distinct fingerprints before
      // its one exchange; batch text never joins history text.
      val docs = read(s, d, "documents")
      val history = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 5, concat(lit("v2 "), col("text")))
            .otherwise(col("text")))
      graft.pipeline.Dedup.exactAgainst(batch, history, "doc_id", "text")
        .select("doc_id")
    }),
    "q101_streaming_quality_gate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streaming corpus ingest: the documents table replayed as a file
      // stream, quality-gated and counted per language — the stateless
      // map-side gate composes with Structured Streaming untouched, and
      // availableNow makes the run a deterministic batch equivalent
      val stream = readStreamTable(s, d, "documents", documentsSchema)
      val gated = stream
        .filter(graft.pipeline.TextAnalysis.qualityOk(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pass"),
          sum(graft.pipeline.TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
      drainToMemory(s, gated, "q101mem", "complete")
    }),
    "q110_streaming_heavy_hitters" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // bounded-memory top-k over an unbounded key stream: the SpaceSaving
      // sketch state is `capacity` counters forever. Capacity 64 covers
      // this table's 5 distinct event types, so the released ranking is
      // EXACT (error 0, pinned in the projection) and the plain groupBy
      // oracle applies; the approximation regime is SpaceSavingSpec's
      val stream = readStreamTable(s, d, "events", eventsSchema)
      val hh = graft.streaming.Streaming.streamingHeavyHitters(
        stream, "event_type", capacity = 64, k = 3)
      drainToMemory(s, hh, "q110mem", "complete")
        .select(posexplode(col("top")).as(Seq("pos", "hit")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("hit.key").as("event_type"), col("hit.count").as("count"))
    }),
    "q111_streaming_neardup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // ingest-time near-dup dedup: docs arrive in planted exact-copy
      // groups of 3 (synthetic token streams from doc_id/3 — group token
      // ranges are disjoint, so only true copies share buckets) and the
      // min-id representative of each group must be the one that survives
      // every band claim. The oracle regime is exact copies; the NEAR-dup
      // power (twin loses >= 1 of 16 buckets) is StreamingSpec's pin.
      val stream = readStreamTable(s, d, "documents", documentsSchema)
        // +1: an event at exactly epoch 0 ties the initial watermark and
        // the stateful operator's late-row filter is strict
        .withColumn("ts", timestamp_seconds(col("doc_id") + 1))
        .withColumn("text", concat_ws(" ",
          transform(sequence(lit(0), lit(19)),
            i => concat(lit("t"), (expr("CAST(doc_id AS BIGINT) div 3") * 31 + i)
              .cast("string")))))
      val claims = graft.streaming.Streaming.streamingNearDupClaims(
        stream, "ts", "doc_id", "text", watermark = "10 minutes")
      graft.streaming.Streaming.noveltyFromClaims(
        drainToMemory(s, claims, "q111mem", "append"), bands = 16)
    }),
    "q112_zorder_values" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // the Morton projection behind ZOrder.writeZOrdered, released as
      // values so the oracle pins every bit placement: pure codegen'd
      // shift/and/or tree, zero shuffle (the layout write itself is
      // exercised in ZOrderSpec — a write has no releasable relation)
      read(s, d, "events")
        .select(col("event_id"),
          pmod(col("user_id"), lit(256)).as("u"),
          pmod(col("event_id"), lit(256)).as("e"))
        .withColumn("zval", graft.sources.ZOrder.zValue2(col("u"), col("e"), bits = 8))
        .select(col("event_id"), col("zval"))
    }),
    "q113_key_skew_report" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // pre-shuffle skew diagnostics on the events user column: key count,
      // hot-key ceiling, and micro-nat-quantized Shannon entropy — all
      // BIGINTs plus one exact ratio (q107's portability discipline)
      graft.sources.Salting.keySkewReport(read(s, d, "events"), "user_id")
    }),
    "q114_tree_prefix_sums" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // continual-release counting (Chan/Shi/Song binary tree): running
      // totals of 10-minute event windows where EVERY prefix is private
      // at finite eps with O(log^1.5 T) error. At eps=inf the noise is
      // zero and the release is the exact cumulative series — the oracle;
      // the finite-eps regime is TreeAggregationSpec's contract
      val windows = read(s, d, "events")
        .groupBy(expr("CAST(event_id AS BIGINT) div 600").as("t"))
        .agg(count(lit(1)).as("c"))
      // maxT is the PUBLIC series horizon (a privacy parameter — sizing it
      // from the data would leak); 2^16 windows covers every test SF with
      // a ~130k-row node table, still a function of series length only
      graft.exec.TreeAggregation.noisyPrefixSums(
        windows, "t", "c", maxT = 1L << 16, epsilon = Double.PositiveInfinity)
    }),
    "q102_source_quality" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per-source corpus health: document counts, quality-gate pass rate,
      // and token mass by ingest source — the dashboard that decides which
      // feeds to keep. One keyed agg; the gate is a codegen'd projection.
      val t = graft.pipeline.TextAnalysis
      read(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(t.qualityOk(col("text")), 1L).otherwise(0L)).as("n_pass"),
          sum(t.tokenCount(col("text"))).as("n_tokens"))
        .withColumn("pass_rate",
          col("n_pass").cast("double") / col("n_docs").cast("double"))
    }),
    "q103_token_spectrum" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // frequency-of-frequencies: how many distinct tokens occur exactly k
      // times — the Zipf spectrum that sizes vocabularies and detects
      // synthetic repetition. Two keyed aggs, no global sort anywhere.
      graft.pipeline.CorpusStats.tokenSpectrum(read(s, d, "documents"), "text")
    }),
    // -- LLM-pipeline: multimodal decode (REAL javax.imageio kernels) ------
    "q50_multimodal_decode" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // deterministic solid-fill PNGs synthesized executor-side with
      // dimensions derived from doc_id, then decoded by the REAL
      // javax.imageio kernel — the oracle recomputes the roundtripped
      // width/height sums arithmetically, so a fake decode cannot pass
      val withBin = read(s, d, "documents").select(col("doc_id"),
        graft.pipeline.Multimodal.synthPng(
          (lit(1) + pmod(col("doc_id"), lit(16))).cast("int"),
          (lit(1) + pmod(col("doc_id"), lit(13))).cast("int"),
          pmod(col("doc_id") * 2654435761L, lit(1 << 24)).cast("int"))
          .as("payload"))
      graft.pipeline.Multimodal.decodeImages(withBin, "payload", featureDim = 16)
        .agg(count(lit(1)).as("n_decoded"),
          sum(col("decoded.width")).as("width_sum"),
          sum(col("decoded.height")).as("height_sum"),
          sum(col("decoded.channels")).as("channels_sum"),
          sum(when(col("decoded.format") === "png", 1L).otherwise(0L)).as("n_png"),
          sum(size(col("decoded.features"))).as("n_features"))
    }),
    "q104_image_phash_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // image near-dup dedup on REAL pixel content: five stripe patterns
      // keyed by doc_id % 5 are synthesized and pHash-grouped; the groups
      // must land exactly on the arithmetic partition the oracle computes
      // (pixel-identical images share a hash, distinct patterns split —
      // PhashSpec pins the spectral properties)
      // 32x24 is the smallest size whose five stripe periods stay distinct
      // after the 32x32 pHash resample — same code path, half the bench cost.
      // A 1-in-4 deterministic slice keeps every hash group populated while
      // the bench pays for the OPERATOR, not 60k PNG-encode scaffolding
      // synthesizing its input (q50 still decodes the full table).
      val withBin = read(s, d, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"),
          graft.pipeline.Multimodal.synthStripePng(lit(32), lit(24),
            pmod(col("doc_id"), lit(5)).cast("int")).as("payload"))
      graft.pipeline.Multimodal.dedupImagesByPhash(withBin, "doc_id", "payload")
        .select(col("representative_id"), col("n_images"))
    }),
    "q105_video_frame_sample" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // REAL container parsing: per-doc animated GIFs with doc_id % 3 + 1
      // frames; sampling up to 2 evenly-spaced frames must yield exactly
      // min(2, n) rows per doc with the true frame_count and decoded
      // dimensions — all recomputable arithmetic for the oracle. 1-in-4
      // slice for the same reason as q104: the bench should weigh the
      // sampler, not synthesizing 60k animated GIFs as its input.
      val withBin = read(s, d, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"),
          graft.pipeline.Multimodal.synthGif(lit(32), lit(24),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("payload"))
      graft.pipeline.Multimodal.sampleVideoFrames(withBin, "payload", maxFrames = 2)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("frame_count")).as("frame_count_sum"),
          sum(col("frame.width")).as("width_sum"),
          sum(when(col("frame.format") === "gif", 1L).otherwise(0L)).as("n_gif"))
    }),
    "q106_audio_fingerprint_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // audio dedup on REAL signal content: five pure tones (periods
      // 4 << (doc_id % 5)) whose dominant spectral bins are distinct, so
      // fingerprint groups must land exactly on the arithmetic partition
      // the oracle computes — MultimodalSpec pins the spectral properties
      val withBin = read(s, d, "documents").select(col("doc_id"),
        graft.pipeline.Multimodal.synthTone(lit(512),
          (lit(4) * pow(lit(2.0), pmod(col("doc_id"), lit(5)))).cast("int"))
          .as("payload"))
      graft.pipeline.Multimodal.dedupAudioByFingerprint(withBin, "doc_id", "payload")
        .select(col("representative_id"), col("n_clips"))
    }),
    "q107_unigram_logprob" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // perplexity-proxy data selection signal: per-doc mean NLL under the
      // corpus's own unigram LM. Vocabulary-keyed count + one-row broadcast
      // total + id-keyed agg; per-token costs quantized once to integer
      // micro-nats so the released sums are exact BIGINTs
      graft.pipeline.CorpusStats.unigramLogProb(
        read(s, d, "documents"), "doc_id", "text")
    }),
    "q108_span_duplication" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // ExactSubstr-lite: fraction of each doc's 3-gram starts whose gram
      // occurs >1 time corpus-wide. Shuffles carry only (8-byte hash, id);
      // the fraction is an exact ratio of two small ints
      graft.pipeline.Dedup.spanDuplicationFraction(
        read(s, d, "documents"), "doc_id", "text", k = 3)
    }),
    "q109_semantic_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // SemDeDup within ground-truth clusters (the label column): drop a
      // vector when an earlier same-cluster vector sits at cosine >= 0.42.
      // Ids/booleans only; the nearest intra-cluster cosine to the
      // threshold is >= 3e-4 away at every SF (measured), so engine
      // round-off cannot flip a decision
      graft.pipeline.Similarity.semanticDedup(
        read(s, d, "embeddings"), "vec_id", "label", "embedding",
        threshold = 0.42)
    }),
    // -- streaming (availableNow over the same events data) ---------------
    "q54_streaming_window_counts" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streaming file source needs a directory; glob-filter to the one table
      val stream = readStreamTable(s, d, "events", eventsSchema)
        .withColumn("ts", timestamp_seconds(col("event_id")))
      val counts = stream
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("count"))
      drainToMemory(s, counts, "q54mem", "complete").select(
        col("window.start").cast("long").as("window_start"),
        col("event_type"), col("count"))
    }),
    "q129_streaming_distinct_users" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // windowed distinct users on a stream: streaming aggregation REJECTS
      // count(DISTINCT ...), so the mergeable HLL sketch is the streaming
      // path, not an approximation convenience. The exact per-window count
      // comes from the batch side of the same data; the release pins the
      // deterministic estimate within 5% of it (~8 sigma at lgK=14)
      val stream = readStreamTable(s, d, "events", eventsSchema)
        .withColumn("ts", timestamp_seconds(col("event_id")))
      val est = graft.streaming.Streaming.windowedDistinctSketch(
        stream, "ts", "user_id", "10 minutes", "10 minutes")
      val mem = drainToMemory(s, est, "q129mem", "complete")
      val streamed = mem.select(
        col("window.start").cast("long").as("window_start"),
        col("n_rows"), col("n_distinct_est"))
      val exact = readEvents(s, d)
        .groupBy((expr("CAST(event_id AS BIGINT) div 600") * 600L)
          .as("window_start"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      streamed.join(exact, "window_start")
        .select(col("window_start"), col("n_rows"), col("n_users"),
          (abs(col("n_distinct_est").cast("double") - col("n_users").cast("double"))
            <= lit(0.05) * col("n_users").cast("double")).as("est_within_5pct"))
    }),
    "q117_bpe_saturation" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // tokenizer training end-to-end on its own corpus: trained to
      // saturation (the merge loop self-terminates when every seen word is
      // one symbol), BPE encoding must reproduce whole-word segmentation —
      // per-doc subword counts equal the house token count, which DuckDB
      // recomputes. Trains on the real table; encodes the real table.
      val docsDf = read(s, d, "documents")
      val model = graft.pipeline.Bpe.train(docsDf, "text",
        numMerges = 10000, minPairCount = 1)
      docsDf.select(col("doc_id"),
        size(graft.pipeline.Bpe.encode(col("text"), model)).cast("long")
          .as("n_subwords"))
    }),
    "q116_windowed_heavy_hitters" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // per-window hot keys with FIXED per-window state (the SpaceSaving
      // sketch under a tumbling window). Capacity 64 > 5 event types, so
      // every window's ranking is exact and the plain per-window groupBy
      // oracle applies; rank ties break on the key string in both engines
      val stream = readStreamTable(s, d, "events", eventsSchema)
        .withColumn("ts", timestamp_seconds(col("event_id")))
      val hh = graft.streaming.Streaming.windowedHeavyHitters(
        stream, "ts", "event_type", "10 minutes", "5 minutes",
        capacity = 64, k = 2)
      drainToMemory(s, hh, "q116mem", "complete")
        .select(col("window.start").cast("long").as("window_start"),
          posexplode(col("top")).as(Seq("pos", "hit")))
        .select(col("window_start"), (col("pos") + 1).cast("long").as("rank"),
          col("hit.key").as("event_type"), col("hit.count").as("count"))
    }),
    "q69_sessionization_batch" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // event time in seconds derived from event_id (the parquet ts column
      // is TIMESTAMP(NANOS), which Spark cannot decode — see readEvents);
      // sessions split on gaps > 600 s of per-user silence
      graft.pipeline.Relational.sessionTable(
        read(s, d, "events").select(col("user_id"), col("event_id").as("ts_sec")),
        "user_id", "ts_sec", gapUnits = 600L)
        .withColumnRenamed("session_id", "session_idx")
    }),
    "q70_winnowing_fingerprints" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // winnowing (MOSS) fingerprint count per document: token 4-gram
      // rolling hashes, window-of-5 minima, distinct — a shift-robust
      // fingerprint the canonical md5 (q41) is not
      read(s, d, "documents").select(col("doc_id"),
        size(graft.pipeline.TextAnalysis.winnowingFingerprints(col("text")))
          .as("n_fingerprints"))
    }),
    "q51_audio_windows" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // REAL PCM parse: payload bytes decode to 16-bit LE samples, windows
      // split the sample span evenly, so summed per-window counts must equal
      // floor(byte_length/2) per doc — the oracle recomputes that from the
      // text's UTF-8 length; the DFT feature values are pinned in
      // MultimodalSpec (float spectra aren't engine-portable)
      val withBin = read(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      graft.pipeline.Multimodal.extractAudioFeatures(
        withBin, "payload", windows = 4, featureDim = 8)
        .agg(count(lit(1)).as("n_windows"),
          sum(col("n_samples")).as("total_samples"),
          sum(size(col("features"))).as("n_features"))
    }))

  // ------------------------------------------------------------------ oracles

  private val clamp = "least(greatest(l_quantity, 0.0), 50.0)"
  private val dev = s"($clamp - 25.0)"

  /** q185's oracle: the identical bounded peel unrolled — round r keeps
    * nodes whose degree in e_{r-1} is >= k and filters edges to kept
    * endpoints; the engine's early exit at the fixed point equals running
    * every remaining round (each is then the identity), so a fixed
    * `rounds` unroll reproduces the output for ANY convergence point at
    * or before it.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH b AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS x,
        |    's' || CAST(l_suppkey AS VARCHAR) AS y
        |  FROM lineitem WHERE l_quantity <= 3),
        |e0 AS MATERIALIZED (SELECT x AS u, y AS v FROM b
        |  UNION SELECT y, x FROM b)""".stripMargin
    val peel = (1 to rounds).map { r =>
      s""",
         |k$r AS MATERIALIZED (SELECT u FROM e${r - 1} GROUP BY u HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r a ON e.u = a.u JOIN k$r c ON e.v = c.u)""".stripMargin
    }.mkString
    head + peel +
      s"\nSELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg" +
      s"\nFROM e$rounds GROUP BY u"
  }

  /** q217's oracle: the BPE merge recurrence unrolled. Words are stored as
    * padded TWO-space-joined symbol strings (`' l  o  w '`), chosen so that
    * an adjacent symbol pair — and nothing else — appears as the substring
    * `' a  b '`, and so that the string keeps that invariant after
    * replacement: DuckDB's left-to-right non-overlapping `replace()` is
    * then exactly the engine's mergeOnce kernel (`'a a a a' -> 'aa aa'`,
    * `'a a a' -> 'aa a'`). Each round: lateral-unnest adjacent pairs,
    * frequency-weighted count, argmax with the lexicographic tie-break,
    * apply. MATERIALIZED per q198's lesson — inlined CTEs re-evaluate the
    * whole prefix exponentially across the unroll.
    */
  private def bpeOracleSql(numMerges: Int, minPairCount: Long): String = {
    val head =
      """WITH dict AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents) WHERE length(w) > 0 GROUP BY 1),
        |w0 AS MATERIALIZED (
        |  SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s, n
        |  FROM dict WHERE length(w) >= 2)""".stripMargin
    val steps = (0 until numMerges).map { r =>
      s""",
         |p$r AS MATERIALIZED (SELECT ls[u.ord] AS a, ls[u.ord + 1] AS b,
         |    SUM(n) AS cnt
         |  FROM (SELECT string_split(trim(s), '  ') AS ls, n FROM w$r) t,
         |    unnest(range(1, len(ls))) AS u(ord)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b FROM p$r WHERE cnt >= $minPairCount
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |w${r + 1} AS MATERIALIZED (SELECT
         |    replace(w.s, ' ' || b.a || '  ' || b.b || ' ',
         |      ' ' || b.a || b.b || ' ') AS s, n
         |  FROM w$r w, b$r b)""".stripMargin
    }.mkString
    val sel = (0 until numMerges).map(r =>
      s"SELECT CAST(${r + 1} AS BIGINT) AS step, a AS lhs, b AS rhs FROM b$r")
      .mkString("\n", "\nUNION ALL ", "")
    head + steps + sel
  }

  /** q198's oracle: the identical bounded edge peel unrolled — round r
    * computes each surviving edge's triangle support (common-neighbor
    * count via the two-keyed wedge join) and keeps support >= k-2; the
    * engine's early exit equals running every remaining round. The final
    * SELECT re-measures support inside the released subgraph, the
    * engine's release rule.
    */
  private def ktrussOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH li AS (SELECT DISTINCT l_orderkey AS o,
        |    's' || CAST(l_suppkey AS VARCHAR) AS sn
        |  FROM lineitem WHERE l_quantity <= 3),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.sn AS u, b.sn AS v FROM li a
        |  JOIN li b ON a.o = b.o AND a.sn < b.sn)""".stripMargin
    // MATERIALIZED is load-bearing: without it DuckDB inlines each CTE at
    // every reference (three per round), re-evaluating the whole prefix
    // exponentially across the unroll
    def wedge(r: Int, src: String): String =
      s"""a$r AS MATERIALIZED (SELECT u AS s, v AS d FROM $src
         |  UNION ALL SELECT v, u FROM $src),
         |s$r AS MATERIALIZED (SELECT e.u, e.v, count(*) AS c FROM $src e
         |  JOIN a$r x ON x.s = e.u JOIN a$r y ON y.s = e.v AND x.d = y.d
         |  GROUP BY 1, 2)""".stripMargin
    val peel = (1 to rounds).map { r =>
      s""",
         |${wedge(r, s"e${r - 1}")},
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  LEFT JOIN s$r s ON s.u = e.u AND s.v = e.v
         |  WHERE coalesce(s.c, 0) >= ${k - 2})""".stripMargin
    }.mkString
    head + peel + s""",
      |${wedge(rounds + 1, s"e$rounds")}
      |SELECT e.u, e.v, CAST(coalesce(s.c, 0) AS BIGINT) AS support
      |FROM e$rounds e
      |LEFT JOIN s${rounds + 1} s ON s.u = e.u AND s.v = e.v""".stripMargin
  }

  /** Per-column profile block for the q203 oracle: freq table once, then
    * the same truncating-recurrence gini the engine releases. */
  private def catProfileOracleSql(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""(WITH f AS (SELECT CAST($c AS VARCHAR) AS v,
         |    CAST(count(*) AS BIGINT) AS cnt FROM $table GROUP BY 1),
         |  nn AS (SELECT * FROM f WHERE v IS NOT NULL),
         |  n AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS nv FROM nn),
         |  top AS (SELECT v, cnt FROM nn ORDER BY cnt DESC, v LIMIT 1),
         |  g AS (SELECT CAST(sum(((cnt * 1000000) // n.nv) * cnt)
         |      AS BIGINT) AS selfsum FROM nn, n),
         |  z AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_nulls
         |    FROM f WHERE v IS NULL),
         |  d AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM nn)
         |  SELECT '$c' AS "column", n.nv AS n_values, z.n_nulls,
         |    d.nd AS n_distinct, top.v AS top_value,
         |    CAST(top.cnt AS BIGINT) AS top_count,
         |    CAST((top.cnt * 1000000) // n.nv AS BIGINT) AS top_share_ppm,
         |    CAST(1000000 - g.selfsum // n.nv AS BIGINT) AS gini_ppm
         |  FROM n, z, d, top, g)""".stripMargin
    }.mkString("\nUNION ALL\n")

  val oracles: Map[String, String] = Map(
    // running max over strictly-earlier intervals = the engine's island
    // rule; touching half-open windows merge
    "q199_merge_intervals" ->
      """WITH iv AS (SELECT user_id, CAST(event_id AS BIGINT) AS lo,
        |    CAST(event_id + 300 AS BIGINT) AS hi FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
        |m AS (SELECT *, max(hi) OVER (PARTITION BY user_id
        |      ORDER BY lo, hi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp
        |  FROM iv),
        |fl AS (SELECT *, CASE WHEN mp IS NULL OR lo > mp THEN 1 ELSE 0 END
        |    AS nw FROM m),
        |isl AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY lo, hi ROWS UNBOUNDED PRECEDING) AS island FROM fl)
        |SELECT user_id, CAST(min(lo) AS BIGINT) AS island_lo,
        |  CAST(max(hi) AS BIGINT) AS island_hi,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM isl GROUP BY user_id, island""".stripMargin,
    // previous OBSERVED period via lag over the aggregated series;
    // growth only over positive counts so // truncation agrees
    "q200_period_deltas" ->
      """WITH p AS (SELECT event_type, CAST(event_id // 600 AS BIGINT)
        |    AS period, CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT event_type, period, n,
        |  lag(n) OVER w AS prev_n,
        |  n - lag(n) OVER w AS delta,
        |  CASE WHEN lag(n) OVER w > 0
        |    THEN (n * 1000000) // lag(n) OVER w END AS growth_ppm
        |FROM p WINDOW w AS (PARTITION BY event_type ORDER BY period)""".stripMargin,
    // SQL NTILE piecewise sizes with the entity id tie-break = the
    // engine's two-phase global rank, bit for bit
    "q201_rfm_segments" ->
      """WITH pr AS (SELECT l_suppkey AS e,
        |    CAST(max(l_orderkey) AS BIGINT) AS rec,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS mon
        |  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1),
        |t AS (SELECT mon,
        |    CAST(ntile(5) OVER (ORDER BY rec DESC, e) AS BIGINT) AS r_tile,
        |    CAST(ntile(5) OVER (ORDER BY freq DESC, e) AS BIGINT) AS f_tile,
        |    CAST(ntile(5) OVER (ORDER BY mon DESC, e) AS BIGINT) AS m_tile
        |  FROM pr)
        |SELECT r_tile, f_tile, m_tile,
        |  CAST(count(*) AS BIGINT) AS n_entities,
        |  CAST(sum(mon) AS BIGINT) AS sum_amount
        |FROM t GROUP BY 1, 2, 3""".stripMargin,
    // leading digit off the decimal string of floor(o_totalprice);
    // expected ppm the same literal table the engine hard-codes
    "q202_benford_audit" ->
      """WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS a
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |c AS (SELECT CAST(substr(CAST(a AS VARCHAR), 1, 1) AS BIGINT)
        |      AS digit, CAST(count(*) AS BIGINT) AS n
        |  FROM v WHERE a > 0 GROUP BY 1),
        |e AS (SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
        |    (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        |    (9, 45757)) AS t(digit, expected_ppm)),
        |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS t FROM c)
        |SELECT CAST(e.digit AS BIGINT) AS digit,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |  CAST(CASE WHEN tot.t > 0
        |    THEN (coalesce(c.n, 0) * 1000000) // tot.t ELSE 0 END
        |    AS BIGINT) AS observed_ppm,
        |  CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |  CAST(CASE WHEN tot.t > 0
        |      THEN (coalesce(c.n, 0) * 1000000) // tot.t ELSE 0 END
        |    - e.expected_ppm AS BIGINT) AS delta_ppm
        |FROM e LEFT JOIN c ON e.digit = c.digit, tot""".stripMargin,
    "q203_categorical_profile" ->
      catProfileOracleSql("part", Seq("p_brand", "p_type", "p_size")),
    // q166's pair table joined back to item supports; every released
    // ratio a truncating integer division over positive counts
    "q204_pair_affinity" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |p AS (SELECT a.i AS item_a, b2.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |s AS (SELECT i, CAST(count(*) AS BIGINT) AS sup FROM bi GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets
        |  FROM bi)
        |SELECT p.item_a, p.item_b, p.support, sa.sup AS support_a,
        |  sb.sup AS support_b, nb.n_baskets,
        |  CAST((p.support * nb.n_baskets * 1000000) // (sa.sup * sb.sup)
        |    AS BIGINT) AS lift_ppm,
        |  CAST((p.support * 1000000) // sa.sup AS BIGINT)
        |    AS conf_a_to_b_ppm,
        |  CAST((p.support * 1000000) // sb.sup AS BIGINT)
        |    AS conf_b_to_a_ppm
        |FROM p JOIN s sa ON sa.i = p.item_a
        |  JOIN s sb ON sb.i = p.item_b, nb""".stripMargin,
    // same wedge-count construction over the deduped undirected edge
    // set; candidates are the cn pairs minus existing edges
    "q205_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o,
        |    's' || CAST(l_suppkey AS VARCHAR) AS sn FROM lineitem
        |  WHERE l_quantity <= 3),
        |e AS (SELECT DISTINCT a.sn AS u, b.sn AS v FROM li a JOIN li b
        |  ON a.o = b.o AND a.sn < b.sn),
        |adj AS (SELECT u AS s, v AS w FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT s AS n, CAST(count(*) AS BIGINT) AS dg
        |  FROM adj GROUP BY 1),
        |cn AS (SELECT a.w AS x, b.w AS y, CAST(count(*) AS BIGINT) AS c
        |  FROM adj a JOIN adj b ON a.s = b.s AND a.w < b.w
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |cand AS (SELECT cn.* FROM cn LEFT JOIN e
        |  ON e.u = cn.x AND e.v = cn.y WHERE e.u IS NULL)
        |SELECT cand.x AS node_a, cand.y AS node_b,
        |  cand.c AS common_neighbors, da.dg AS deg_a, db.dg AS deg_b,
        |  (cand.c * 1000000) // (da.dg + db.dg - cand.c) AS jaccard_ppm
        |FROM cand JOIN deg da ON da.n = cand.x
        |  JOIN deg db ON db.n = cand.y""".stripMargin,
    // one block per pair; sums promote to HUGEINT in DuckDB, cast back
    // down (the engine's loud-overflow contract bounds them under 2^63)
    "q206_correlation_sums" -> Seq(
      ("qty", "price_f"), ("qty", "line"), ("price_f", "line")).map {
        case (x, y) =>
          s"""SELECT '$x' AS col_x, '$y' AS col_y,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum($x) AS BIGINT) AS sum_x,
             |  CAST(sum($y) AS BIGINT) AS sum_y,
             |  CAST(sum($x * $x) AS BIGINT) AS sum_xx,
             |  CAST(sum($y * $y) AS BIGINT) AS sum_yy,
             |  CAST(sum($x * $y) AS BIGINT) AS sum_xy
             |FROM (SELECT CAST(l_quantity AS BIGINT) AS qty,
             |    CAST(floor(l_extendedprice) AS BIGINT) AS price_f,
             |    CAST(l_linenumber AS BIGINT) AS line FROM lineitem)
             |WHERE $x IS NOT NULL AND $y IS NOT NULL""".stripMargin
      }.mkString("\nUNION ALL\n"),
    // the independent quadratic NOT-EXISTS dominance definition — the
    // engine's sweep-line must agree exactly
    "q207_pareto_frontier" ->
      """WITH t AS (SELECT p_brand, CAST(p_size AS BIGINT) AS size,
        |    CAST(floor(p_retailprice) AS BIGINT) AS price_f, p_partkey
        |  FROM part WHERE p_brand IS NOT NULL AND p_size IS NOT NULL
        |    AND p_retailprice IS NOT NULL)
        |SELECT p_brand, size, price_f, p_partkey FROM t a
        |WHERE NOT EXISTS (SELECT 1 FROM t b
        |  WHERE b.p_brand = a.p_brand AND b.size <= a.size
        |    AND b.price_f <= a.price_f
        |    AND (b.size < a.size OR b.price_f < a.price_f))""".stripMargin,
    // mode per group via (count desc, value) row_number = the engine's
    // min(struct(-c, v)) tie rule
    "q208_impute_mode" ->
      """WITH ev AS (SELECT user_id % 50 AS grp, event_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END
        |      AS etype
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT grp, etype, count(*) AS c FROM ev
        |  WHERE etype IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT grp, etype AS md FROM (SELECT grp, etype,
        |    row_number() OVER (PARTITION BY grp
        |      ORDER BY c DESC, etype) AS rn FROM f) WHERE rn = 1)
        |SELECT ev.grp, ev.event_id,
        |  coalesce(ev.etype, m.md) AS etype,
        |  (ev.etype IS NULL AND m.md IS NOT NULL) AS was_imputed
        |FROM ev LEFT JOIN m ON m.grp = ev.grp""".stripMargin,
    // identical md5-derived 60-bit integers: '0x'||hex cast in DuckDB
    // mirrors Spark's conv(hex, 16, 10); chr(1)/chr(0) are the unit and
    // null sentinels of the engine's canonical string
    "q209_table_digest" ->
      """WITH r AS (SELECT
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 64 AS bucket,
        |    CAST(('0x' || substr(md5(
        |      coalesce(CAST(o_orderkey AS VARCHAR), chr(0)) || chr(1) ||
        |      coalesce(o_orderstatus, chr(0)) || chr(1) ||
        |      coalesce(o_orderpriority, chr(0))), 1, 15)) AS BIGINT) AS h
        |  FROM orders)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_digest,
        |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS sum_digest
        |FROM r GROUP BY 1""".stripMargin,
    // identical md5-derived candidate indices over the identically
    // ranked item universe; chr(1) is the engine's unit separator
    "q215_negative_samples" ->
      """WITH pos AS (SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS u,
        |    CAST(l_partkey AS VARCHAR) AS i FROM lineitem
        |  WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
        |it AS (SELECT i, row_number() OVER (ORDER BY i) - 1 AS idx
        |  FROM (SELECT DISTINCT i FROM pos)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM it),
        |js AS (SELECT unnest(range(0, 2)) AS j),
        |cand AS (SELECT DISTINCT pos.u, it.i AS neg
        |  FROM pos, n, js, it
        |  WHERE it.idx = CAST(('0x' || substr(md5(pos.u || chr(1) ||
        |    pos.i || chr(1) || CAST(js.j AS VARCHAR) || chr(1) || 'neg'),
        |    1, 8)) AS BIGINT) % n.n)
        |SELECT c.u AS supp, c.neg AS neg_item FROM cand c
        |LEFT JOIN pos p ON p.u = c.u AND p.i = c.neg
        |WHERE p.u IS NULL""".stripMargin,
    // first k=3 distinct non-positive items of each positive's hash
    // stream over the full bounded draw range [0, 10k) — the engine's
    // two-phase scan (2k for all, the 8k remainder for stragglers only)
    // releases exactly this set when no positive is terminally short
    "q216_negative_samples_exact" ->
      """WITH pos AS (SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS u,
        |    CAST(l_partkey AS VARCHAR) AS i FROM lineitem
        |  WHERE l_quantity <= 5
        |    AND l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
        |it AS (SELECT i, row_number() OVER (ORDER BY i) - 1 AS idx
        |  FROM (SELECT DISTINCT i FROM pos)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM it),
        |ts AS (SELECT unnest(range(0, 30)) AS t),
        |cand AS (SELECT pos.u, pos.i, ts.t, it.i AS neg
        |  FROM pos, n, ts, it
        |  WHERE it.idx = CAST(('0x' || substr(md5(pos.u || chr(1) ||
        |    pos.i || chr(1) || CAST(ts.t AS VARCHAR) || chr(1) || 'neg'),
        |    1, 8)) AS BIGINT) % n.n),
        |ok AS (SELECT c.u, c.i, c.neg, min(c.t) AS t FROM cand c
        |  LEFT JOIN pos p ON p.u = c.u AND p.i = c.neg
        |  WHERE p.u IS NULL GROUP BY c.u, c.i, c.neg),
        |rk AS (SELECT u, i, neg,
        |    row_number() OVER (PARTITION BY u, i ORDER BY t) AS r
        |  FROM ok)
        |SELECT u AS supp, i AS part, neg AS neg_item
        |FROM rk WHERE r <= 3""".stripMargin,
    // the distributed trainer's merge table, recomputed by the unrolled
    // SQL recurrence (see bpeOracleSql's replace()-is-mergeOnce argument)
    "q217_bpe_merges" -> bpeOracleSql(numMerges = 4, minPairCount = 2L),
    // the SAME strictly-sequential recurrence oracles the batched trainer:
    // green = an independent engine agrees batching changed nothing
    "q220_bpe_merges_batched" -> bpeOracleSql(numMerges = 4, minPairCount = 2L),
    // no salt anywhere in the oracle — the salted join's released totals
    // must equal the plain join's
    "q221_salted_join" ->
      """SELECT s.s_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1""".stripMargin,
    // q176's unrolled integer-Lloyd recurrence extended one mean-update
    // step: assignments release there, the POST-update centroids (what
    // Ivf.trainDistributed returns after iters=2) release here, mapped
    // micro-long -> double by the same exact IEEE division
    "q218_ivf_distributed_train" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
        |  FROM e ORDER BY vec_id LIMIT 4),
        |d1 AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.v)),
        |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS d
        |  FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cid, d FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d1)
        |  WHERE rk = 1),
        |x1 AS (SELECT a1.cid AS cid, unnest(e.v) AS val,
        |    unnest(generate_series(1, len(e.v))) AS dim
        |  FROM a1 JOIN e USING (vec_id)),
        |m1 AS (SELECT cid, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        |  FROM x1 GROUP BY cid, dim),
        |c1 AS (SELECT c0.cid, COALESCE(mm.v, c0.v) AS v FROM c0
        |  LEFT JOIN (SELECT cid, list(m ORDER BY dim) AS v FROM m1
        |    GROUP BY cid) mm USING (cid)),
        |d2 AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.v)),
        |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS d
        |  FROM e CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, cid, d FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d2)
        |  WHERE rk = 1),
        |x2 AS (SELECT a2.cid AS cid, unnest(e.v) AS val,
        |    unnest(generate_series(1, len(e.v))) AS dim
        |  FROM a2 JOIN e USING (vec_id)),
        |m2 AS (SELECT cid, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        |  FROM x2 GROUP BY cid, dim),
        |c2 AS (SELECT c1.cid, COALESCE(mm.v, c1.v) AS v FROM c1
        |  LEFT JOIN (SELECT cid, list(m ORDER BY dim) AS v FROM m2
        |    GROUP BY cid) mm USING (cid))
        |SELECT CAST(cid AS INTEGER) AS cluster,
        |  CAST(u.ord AS BIGINT) AS dim,
        |  CAST(v[u.ord] AS DOUBLE) / 1000000 AS value
        |FROM c2, unnest(range(1, len(v) + 1)) AS u(ord)""".stripMargin,
    // the never-exceed ledger's released table: of the windows the first
    // half finalizes (window end <= the first half's watermark = its max
    // event second), the 3 smallest (wstart, event_type) rows — the
    // affordable prefix of a 3.0-epsilon cap at 1.0 per window; the
    // restarted second half restores 3/3 from the ledger and adds nothing
    "q219_streaming_dp_ledger" ->
      """WITH wm AS (SELECT max(event_id) AS m FROM events
        |  WHERE event_id <= 2999),
        |c AS (SELECT CAST((event_id // 600) * 600 AS BIGINT) AS wstart,
        |    event_type, CAST(count(*) AS BIGINT) AS count
        |  FROM events, wm
        |  WHERE (event_id // 600) * 600 + 600 <= wm.m
        |  GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY wstart, event_type)
        |    AS rk FROM c)
        |SELECT wstart, event_type, count FROM r WHERE rk <= 3""".stripMargin,
    // the same strictly-earlier running-max sweep; open rows as
    // max-long sentinels
    "q213_scd_audit" ->
      """WITH s AS (SELECT o_custkey AS k, CAST(o_orderkey AS BIGINT) AS f,
        |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |      ELSE CAST(o_orderkey + 1000 AS BIGINT) END AS t
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |x AS (SELECT k, f, coalesce(t, 9223372036854775807) AS t2,
        |    t IS NULL AS op FROM s),
        |r AS (SELECT *, max(t2) OVER (PARTITION BY k ORDER BY f, t2
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM x)
        |SELECT k AS o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND f < prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND f > prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(sum(CASE WHEN op THEN 1 ELSE 0 END) AS BIGINT) AS n_open
        |FROM r GROUP BY k""".stripMargin,
    // independent formulation: a quadratic rank-distance join against
    // the engine's bucketed equi-join
    "q214_sorted_neighbors" ->
      """WITH t AS (SELECT CAST(p_partkey AS VARCHAR) AS id, p_name AS k
        |  FROM part WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL),
        |r AS (SELECT id, row_number() OVER (ORDER BY k, id) - 1 AS rn
        |  FROM t)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(b.rn - a.rn AS BIGINT) AS rank_gap
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 3""".stripMargin,
    // identical bin chain, reference ppm from the same batch, L1 and
    // worst-bin resolved by the lowest-index tie rule
    "q212_streaming_drift" ->
      """WITH v AS (SELECT event_id, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |ref AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN value <= 15 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS b0,
        |  CAST(sum(CASE WHEN value > 15 AND value <= 35 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN value > 35 AND value <= 70 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b2,
        |  CAST(sum(CASE WHEN value > 70 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS b3 FROM v),
        |rp AS (SELECT (b0 * 1000000) // n AS r0, (b1 * 1000000) // n AS r1,
        |    (b2 * 1000000) // n AS r2, (b3 * 1000000) // n AS r3 FROM ref),
        |w AS (SELECT event_id // 600 AS p,
        |    CASE WHEN value <= 15 THEN 0 WHEN value <= 35 THEN 1
        |      WHEN value <= 70 THEN 2 ELSE 3 END AS bin FROM v),
        |cw AS (SELECT p, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3
        |  FROM w GROUP BY p),
        |dd AS (SELECT p, n_rows, c0, c1, c2, c3,
        |    (c0 * 1000000) // n_rows - rp.r0 AS d0,
        |    (c1 * 1000000) // n_rows - rp.r1 AS d1,
        |    (c2 * 1000000) // n_rows - rp.r2 AS d2,
        |    (c3 * 1000000) // n_rows - rp.r3 AS d3
        |  FROM cw, rp),
        |f AS (SELECT CAST(p * 600 AS BIGINT) AS window_start,
        |  CAST((p + 1) * 600 AS BIGINT) AS window_end, n_rows,
        |  c0, c1, c2, c3,
        |  CAST(abs(d0) + abs(d1) + abs(d2) + abs(d3) AS BIGINT) AS l1_ppm,
        |  CAST(CASE
        |    WHEN abs(d0) >= abs(d1) AND abs(d0) >= abs(d2)
        |      AND abs(d0) >= abs(d3) THEN 0
        |    WHEN abs(d1) >= abs(d2) AND abs(d1) >= abs(d3) THEN 1
        |    WHEN abs(d2) >= abs(d3) THEN 2 ELSE 3 END AS BIGINT)
        |    AS worst_bin,
        |  CAST(CASE
        |    WHEN abs(d0) >= abs(d1) AND abs(d0) >= abs(d2)
        |      AND abs(d0) >= abs(d3) THEN d0
        |    WHEN abs(d1) >= abs(d2) AND abs(d1) >= abs(d3) THEN d1
        |    WHEN abs(d2) >= abs(d3) THEN d2 ELSE d3 END AS BIGINT)
        |    AS worst_delta_ppm
        |  FROM dd)
        |SELECT window_start, window_end, n_rows,
        |  CAST(b.bin AS BIGINT) AS bin,
        |  CASE b.bin WHEN 0 THEN c0 WHEN 1 THEN c1
        |    WHEN 2 THEN c2 ELSE c3 END AS bin_count,
        |  l1_ppm, worst_bin, worst_delta_ppm
        |FROM f, (VALUES (0), (1), (2), (3)) b(bin)""".stripMargin,
    // hop-bounded dedup walk per (seed, node); min distance then the
    // seed aggregate — unreachable-only seeds keep a zero row
    "q210_reach_profile" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o,
        |    's' || CAST(l_suppkey AS VARCHAR) AS sn FROM lineitem
        |  WHERE l_quantity <= 3),
        |p AS (SELECT DISTINCT a.sn AS x, b.sn AS y FROM li a JOIN li b
        |  ON a.o = b.o AND a.sn < b.sn),
        |e AS (SELECT x AS src, y AS dst FROM p
        |  UNION ALL SELECT y, x FROM p),
        |seeds AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR)
        |    AS seed FROM supplier
        |  WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)),
        |walk(seed, node, hops) AS (
        |  SELECT seed, seed, 0 FROM seeds
        |  UNION
        |  SELECT w.seed, e.dst, w.hops + 1 FROM walk w
        |    JOIN e ON e.src = w.node WHERE w.hops < 3),
        |md AS (SELECT seed, node, CAST(min(hops) AS BIGINT) AS d
        |  FROM walk GROUP BY 1, 2),
        |agg AS (SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
        |    CAST(sum(d) AS BIGINT) AS sum_dist,
        |    CAST(max(d) AS BIGINT) AS max_dist
        |  FROM md WHERE d > 0 GROUP BY 1)
        |SELECT s.seed, coalesce(a.n_reached, 0) AS n_reached,
        |  coalesce(a.sum_dist, 0) AS sum_dist,
        |  coalesce(a.max_dist, 0) AS max_dist
        |FROM seeds s LEFT JOIN agg a ON a.seed = s.seed""".stripMargin,
    // per-key count product and truncating ppm of the join's total
    // output; (out_rows desc, key) makes the top-20 cut deterministic
    "q211_join_hot_keys" ->
      """WITH c AS (SELECT CAST(l_partkey AS VARCHAR) AS k,
        |    CAST(count(*) AS BIGINT) AS n FROM lineitem
        |  WHERE l_partkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT a.k, a.n AS n_left, b.n AS n_right,
        |    CAST(a.n * b.n AS BIGINT) AS out_rows
        |  FROM c a JOIN c b ON a.k = b.k),
        |t AS (SELECT sum(out_rows) AS tot FROM j)
        |SELECT k, n_left, n_right, out_rows,
        |  CAST((out_rows * 1000000) // t.tot AS BIGINT) AS share_ppm
        |FROM j, t ORDER BY out_rows DESC, k LIMIT 20""".stripMargin,
    "q198_ktruss" -> ktrussOracleSql(k = 4, rounds = 4),
    "q185_kcore" -> kcoreOracleSql(k = 4, rounds = 4),
    // hop-bounded weighted walk, deduped per (node, dist, hops) by the
    // recursive UNION; min over <= 3-hop paths equals the engine's
    // 3-round frontier relaxation by the Bellman-Ford invariant
    "q186_sssp_weighted" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o,
        |    's' || CAST(l_suppkey AS VARCHAR) AS sn FROM lineitem),
        |p AS (SELECT a.sn AS x, b.sn AS y, count(*) AS w FROM li a
        |  JOIN li b ON a.o = b.o AND a.sn < b.sn GROUP BY 1, 2),
        |e AS (SELECT x AS src, y AS dst, w FROM p
        |  UNION ALL SELECT y, x, w FROM p),
        |seeds AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
        |  FROM supplier
        |  WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)),
        |walk(node, dist, hops) AS (
        |  SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
        |  UNION
        |  SELECT e.dst, w2.dist + e.w, w2.hops + 1 FROM walk w2
        |    JOIN e ON e.src = w2.node WHERE w2.hops < 3)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1""".stripMargin,
    // base rides as priority-0 under every change; highest (pri, version)
    // wins per key, deletes drop the key — NULLS LAST on both engines
    "q187_changelog_apply" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS status,
        |    c_name AS note FROM customer),
        |ch AS (SELECT o_custkey AS k, o_orderstatus AS status,
        |    o_orderpriority AS note, o_orderkey AS v,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
        |         WHEN o_orderkey % 3 = 0 THEN 'I' ELSE 'U' END AS op
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |u AS (SELECT k, status, note, 0 AS pri, CAST(NULL AS BIGINT) AS v,
        |    CAST(NULL AS VARCHAR) AS op FROM base WHERE k IS NOT NULL
        |  UNION ALL SELECT k, status, note, 1, v, op FROM ch),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY pri DESC, v DESC NULLS LAST) AS rn FROM u)
        |SELECT k, status, note FROM r
        |WHERE rn = 1 AND (op IS NULL OR op <> 'D')""".stripMargin,
    // q142's gaps-and-islands sessions, consecutive pairs via lead inside
    // each session, truncating integer ppm per from_type — engine-exact
    "q188_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT *, CASE WHEN lag(event_id) OVER w IS NULL
        |      OR event_id - lag(event_id) OVER w > 600 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY event_id, event_type)),
        |t AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY event_id, event_type ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |pr AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY event_id, event_type) AS to_type FROM t),
        |c AS (SELECT from_type, to_type,
        |    CAST(count(*) AS BIGINT) AS n_transitions
        |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  CAST((n_transitions * 1000000) // sum(n_transitions)
        |    OVER (PARTITION BY from_type) AS BIGINT) AS ppm
        |FROM c""".stripMargin,
    // q42's exact-Jaccard transitive closure, then one keep-best row per
    // cluster: max length, ties to the smallest doc_id, with multiplicity
    "q189_survivorship" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3
        |        THEN [array_to_string(toks, ' ')]
        |        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))) END AS sh FROM t),
        |e AS MATERIALIZED (SELECT a.doc_id AS ia, b.doc_id AS ib
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |            / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5),
        |u AS MATERIALIZED (SELECT ia AS a, ib AS b FROM e
        |                   UNION SELECT ib, ia FROM e),
        |reach AS (SELECT a, b FROM u
        |          UNION SELECT r.a, u.b FROM reach r JOIN u ON r.b = u.a
        |                WHERE r.a <> u.b),
        |comp AS (SELECT a AS id, least(a, min(b)) AS c FROM reach GROUP BY a),
        |assign AS (SELECT d.doc_id, coalesce(c.c, d.doc_id) AS cluster_id,
        |    CAST(length(d.text) AS BIGINT) AS score
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY score DESC NULLS LAST, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY cluster_id) AS nm
        |  FROM assign)
        |SELECT doc_id, score, cluster_id, CAST(nm AS BIGINT) AS n_members
        |FROM r WHERE rn = 1""".stripMargin,
    // q162's compaction over the non-purchase state feed, then the
    // point-in-time rule: the run effective at t-1 (valid_from < t,
    // valid_to >= t or open) — exactly the strict as-of row
    "q190_point_in_time" ->
      """WITH e AS (SELECT user_id, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL),
        |st AS (SELECT * FROM e WHERE event_type <> 'purchase'),
        |flag AS (SELECT user_id, event_id, event_type,
        |  (lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |     IS DISTINCT FROM event_type)
        |  OR lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |     IS NULL AS chg
        |  FROM st),
        |starts AS (SELECT user_id, event_id, event_type FROM flag WHERE chg),
        |runs AS (SELECT user_id, event_type, event_id AS vf,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS vt
        |  FROM starts),
        |f AS (SELECT user_id, event_id AS t FROM e
        |  WHERE event_type = 'purchase')
        |SELECT f.user_id, f.t, r.event_type AS state_at
        |FROM f LEFT JOIN runs r ON r.user_id = f.user_id
        |  AND r.vf < f.t AND (r.vt IS NULL OR r.vt >= f.t)""".stripMargin,
    // single-batch AvailableNow = the batch recurrence: highest version
    // per key wins, deletes release a NULL-payload tombstone
    "q191_streaming_upsert" ->
      """WITH ch AS (SELECT o_custkey AS k, o_orderkey AS v,
        |    o_orderstatus AS payload,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D'
        |         WHEN o_orderkey % 3 = 0 THEN 'I' ELSE 'U' END AS op
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY v DESC) AS rn FROM ch)
        |SELECT k, v, op,
        |  CASE WHEN op = 'D' THEN NULL ELSE payload END AS payload
        |FROM r WHERE rn = 1""".stripMargin,
    // the identical normal-equation integers: DuckDB's BIGINT sums go
    // HUGEINT, so every released combination casts back down — exact,
    // since the engine's contract bounds them under 2^63
    "q192_group_trend" ->
      """WITH p AS (SELECT event_type, event_id // 600 AS period,
        |    count(*) AS n_events FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |sums AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(period) AS BIGINT) AS sx,
        |    CAST(sum(n_events) AS BIGINT) AS sy,
        |    CAST(sum(period * period) AS BIGINT) AS sxx,
        |    CAST(sum(period * n_events) AS BIGINT) AS sxy
        |  FROM p GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        |  CAST(sy * sxx - sx * sxy AS BIGINT) AS icept_num
        |FROM sums""".stripMargin,
    // q142's sessions keyed by the min (time, type) entry event;
    // conversion = the session reached a purchase; truncating ppm
    "q193_entry_conversion" ->
      """WITH e AS (SELECT user_id, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |s AS (SELECT *, CASE WHEN lag(event_id) OVER w IS NULL
        |      OR event_id - lag(event_id) OVER w > 600 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY event_id, event_type)),
        |t AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY event_id, event_type ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |g AS (SELECT user_id, sid,
        |    arg_min(event_type, event_id) AS entry_type,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM t GROUP BY 1, 2),
        |c AS (SELECT entry_type,
        |    CAST(count(*) AS BIGINT) AS n_sessions,
        |    CAST(sum(conv) AS BIGINT) AS n_converted
        |  FROM g GROUP BY 1)
        |SELECT entry_type, n_sessions, n_converted,
        |  (n_converted * 1000000) // n_sessions AS ppm
        |FROM c""".stripMargin,
    // q135's stage chain; in the exact regime every released quantile is
    // the rank-ceil order statistic = quantile_disc, err_units pins 0
    "q194_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, min(event_id) AS t FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.event_id) AS t, s1.t AS pt
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.event_id > s1.t
        |  GROUP BY e.user_id, s1.t),
        |s3 AS (SELECT e.user_id, min(e.event_id) AS t, s2.t AS pt
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.event_id > s2.t
        |  GROUP BY e.user_id, s2.t)
        |SELECT 2 AS step, 'click' AS step_name,
        |  CAST(count(*) AS BIGINT) AS n_entities,
        |  CAST(min(t - pt) AS DOUBLE) AS min_gap,
        |  CAST(max(t - pt) AS DOUBLE) AS max_gap,
        |  CAST(0 AS BIGINT) AS err_units,
        |  CAST(quantile_disc(t - pt, 0.5) AS DOUBLE) AS p50,
        |  CAST(quantile_disc(t - pt, 0.9) AS DOUBLE) AS p90 FROM s2
        |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
        |  CAST(min(t - pt) AS DOUBLE), CAST(max(t - pt) AS DOUBLE),
        |  CAST(0 AS BIGINT),
        |  CAST(quantile_disc(t - pt, 0.5) AS DOUBLE),
        |  CAST(quantile_disc(t - pt, 0.9) AS DOUBLE) FROM s3""".stripMargin,
    // q78's tokenization, ranked by (count desc, token); the running sum
    // and the grand total both integer, ppm truncates
    "q195_coverage_curve" ->
      """WITH tok AS (SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS token FROM documents)
        |  WHERE length(token) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM tok),
        |top AS (SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token) AS rank,
        |    CAST(sum(n) OVER (ORDER BY n DESC, token
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM tok ORDER BY n DESC, token LIMIT 100)
        |SELECT CAST(rank AS BIGINT) AS rank, token,
        |  CAST(n AS BIGINT) AS n, (cum * 1000000) // tot.t AS cum_ppm
        |FROM top, tot""".stripMargin,
    // no NULL p_type in the data, so count(DISTINCT) matches the
    // engine's null-counting struct wrap
    "q196_fd_violations" ->
      """SELECT p_brand, CAST(count(DISTINCT p_type) AS BIGINT)
        |    AS n_dep_values,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM part WHERE p_brand IS NOT NULL
        |GROUP BY 1 HAVING count(DISTINCT p_type) > 1""".stripMargin,
    // both rankings recomputed, fused as exact integer micro-units:
    // score = sum of 1e12 // (60 + rank); ties break by doc_id
    "q197_rrf_fusion" ->
      """WITH d AS (SELECT doc_id, lang, length(text) AS len FROM documents),
        |a AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY len DESC, doc_id) AS rank FROM d QUALIFY rank <= 20),
        |b AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY doc_id) AS rank FROM d QUALIFY rank <= 20),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        |f AS (SELECT lang, doc_id,
        |    CAST(sum(1000000000000 // (60 + rank)) AS BIGINT) AS rrf_e12
        |  FROM u GROUP BY 1, 2)
        |SELECT lang, doc_id, rrf_e12,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY rrf_e12 DESC, doc_id) AS BIGINT) AS rank
        |FROM f QUALIFY rank <= 10""".stripMargin,
    "q01_count" -> "SELECT CAST(count(*) AS BIGINT) AS count FROM lineitem",
    "q02_groupby_count" -> countOracle(Seq("A", "N", "R"), "l_returnflag",
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem WHERE l_quantity > 10 GROUP BY 1"),
    "q03_groupby_count_distinct" ->
      """SELECT k.l_returnflag AS l_returnflag,
        |  CAST(coalesce(t.cnt, 0) AS BIGINT) AS "count_distinct(l_suppkey)"
        |FROM (VALUES ('A'), ('N'), ('R')) k(l_returnflag)
        |LEFT JOIN (SELECT l_returnflag, count(DISTINCT l_suppkey) AS cnt
        |           FROM lineitem GROUP BY 1) t USING (l_returnflag)""".stripMargin,
    "q04_count_distinct_rows" ->
      "SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS count_distinct FROM lineitem",
    "q05_groupby_sum" ->
      s"""SELECT k.l_returnflag AS l_returnflag, coalesce(t.s, 0.0) AS l_quantity_sum
         |FROM (VALUES ('A'), ('N'), ('R')) k(l_returnflag)
         |LEFT JOIN (SELECT l_returnflag, sum($clamp) AS s
         |           FROM lineitem GROUP BY 1) t USING (l_returnflag)""".stripMargin,
    "q06_sum_int" ->
      "SELECT CAST(sum(least(greatest(p_size, 1), 50)) AS BIGINT) AS p_size_sum FROM part",
    "q07_groupby_average" ->
      s"""SELECT l_returnflag,
         |  sum($dev) / greatest(CAST(count(*) AS DOUBLE), 1.0) + 25.0 AS l_quantity_average
         |FROM lineitem GROUP BY 1""".stripMargin,
    "q08_groupby_variance" ->
      s"""SELECT l_returnflag,
         |  least(greatest((sum($dev * $dev) - sum($dev) * sum($dev) /
         |    greatest(CAST(count(*) AS DOUBLE), 1.0)) /
         |    greatest(CAST(count(*) AS DOUBLE) - 1.0, 1.0), 0.0), 625.0) AS l_quantity_variance
         |FROM lineitem GROUP BY 1""".stripMargin,
    "q09_groupby_stdev" ->
      s"""SELECT l_returnflag,
         |  sqrt(least(greatest((sum($dev * $dev) - sum($dev) * sum($dev) /
         |    greatest(CAST(count(*) AS DOUBLE), 1.0)) /
         |    greatest(CAST(count(*) AS DOUBLE) - 1.0, 1.0), 0.0), 625.0)) AS l_quantity_stdev
         |FROM lineitem GROUP BY 1""".stripMargin,
    "q10_filter" -> countOracle(Seq("F", "O"), "l_linestatus",
      """SELECT l_linestatus, count(*) AS cnt FROM lineitem
        |WHERE l_shipdate >= '1995-01-01' AND l_discount >= 0.02 GROUP BY 1""".stripMargin),
    "q11_rename_select" -> countOracle(Seq("A", "N", "R"), "flag",
      "SELECT l_returnflag AS flag, count(*) AS cnt FROM lineitem GROUP BY 1"),
    "q12_map" ->
      "SELECT sum(least(greatest(l_quantity * 2.0, 0.0), 100.0)) AS qty2_sum FROM lineitem",
    "q13_flatmap_cap" ->
      "SELECT CAST(2 * count(*) AS BIGINT) AS count FROM lineitem",
    "q14_replace_null_and_nan" ->
      """SELECT sum(least(greatest(
        |  CASE WHEN l_quantity > 30 THEN 0.0 ELSE l_quantity END, 0.0), 50.0)) AS qty_n_sum
        |FROM lineitem""".stripMargin,
    "q15_replace_infinity" ->
      """SELECT sum(least(greatest(
        |  CASE WHEN l_quantity > 30 THEN 50.0
        |       WHEN l_quantity < 5 THEN 0.0
        |       ELSE l_quantity END, 0.0), 50.0)) AS qty_i_sum
        |FROM lineitem""".stripMargin,
    "q16_drop_null_and_nan" ->
      "SELECT CAST(count(*) AS BIGINT) AS count FROM lineitem WHERE l_quantity <= 30",
    "q17_drop_infinity" ->
      """SELECT CAST(count(*) AS BIGINT) AS count FROM lineitem
        |WHERE l_quantity >= 5 AND l_quantity <= 30""".stripMargin,
    "q18_join_public" -> countOracle(
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
      "c_mktsegment",
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin),
    "q19_join_private" -> countOracle(Seq("F", "O", "P"), "o_orderstatus",
      """SELECT o_orderstatus, count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1""".stripMargin),
    "q20_join_private_nonunique" -> countOracle(Seq("F", "O", "P"), "o_orderstatus",
      """SELECT o_orderstatus, count(*) AS cnt
        |FROM (SELECT * FROM lineitem
        |      QUALIFY count(*) OVER (PARTITION BY l_orderkey) = 1) li
        |JOIN orders ON li.l_orderkey = o_orderkey GROUP BY 1""".stripMargin),
    "q21_histogram" ->
      """SELECT k.l_quantity_binned AS l_quantity_binned,
        |  CAST(coalesce(t.cnt, 0) AS BIGINT) AS count
        |FROM (VALUES ('[0.00, 10.00]'), ('(10.00, 20.00]'), ('(20.00, 30.00]'),
        |             ('(30.00, 40.00]'), ('(40.00, 50.00]')) k(l_quantity_binned)
        |LEFT JOIN (SELECT CASE
        |    WHEN l_quantity >= 0 AND l_quantity <= 10 THEN '[0.00, 10.00]'
        |    WHEN l_quantity > 10 AND l_quantity <= 20 THEN '(10.00, 20.00]'
        |    WHEN l_quantity > 20 AND l_quantity <= 30 THEN '(20.00, 30.00]'
        |    WHEN l_quantity > 30 AND l_quantity <= 40 THEN '(30.00, 40.00]'
        |    WHEN l_quantity > 40 AND l_quantity <= 50 THEN '(40.00, 50.00]'
        |    END AS l_quantity_binned, count(*) AS cnt
        |  FROM lineitem GROUP BY 1) t USING (l_quantity_binned)""".stripMargin,
    "q22_suppress" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS count
        |FROM events GROUP BY 1 HAVING count(*) >= 2000""".stripMargin,
    "q23_get_groups" -> "SELECT DISTINCT event_type FROM events",
    "q24_enforce_count" -> "SELECT CAST(count(*) AS BIGINT) AS count FROM events",
    "q25_flatmap_by_id" ->
      """SELECT CAST(sum(least(greatest(c, 0), 10)) AS BIGINT) AS n_types_sum
        |FROM (SELECT count(DISTINCT event_type) AS c FROM events GROUP BY user_id)""".stripMargin,
    "q26_enforce_groups" -> countOracle(
      Seq("click", "error", "purchase", "signup", "view"), "event_type",
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1"),
    "q27_keyset_cross" ->
      """SELECT r.r_name AS r_name, f.flag AS flag
        |FROM (SELECT DISTINCT r_name FROM region) r
        |CROSS JOIN (VALUES ('A'), ('N'), ('R')) f(flag)""".stripMargin,
    "q28_keyset_join" ->
      """SELECT DISTINCT CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q29_keyset_union" ->
      """SELECT DISTINCT r_name FROM
        |(SELECT r_name FROM region UNION ALL
        | SELECT * FROM (VALUES ('ASIA'), ('ATLANTIS')))""".stripMargin,
    "q30_keyset_subtract" ->
      """SELECT DISTINCT r_name FROM region
        |WHERE r_name NOT IN ('ASIA', 'EUROPE')""".stripMargin,
    "q31_keyset_project" ->
      "SELECT DISTINCT CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation",
    "q32_keyset_filter" ->
      "SELECT DISTINCT r_name FROM region WHERE r_name LIKE 'A%'",
    "q60_keyset_cross_large" ->
      "SELECT CAST(4000 * 4000 AS BIGINT) AS n_keys",
    // The infinite-budget exponential mechanism is deterministic: argmax
    // rank-error utility over 2048 bins, ties broken toward the q-anchored
    // bin - mirrored exactly (same FP expression shapes) in SQL.
    "q33_median" ->
      """WITH base AS (SELECT l_returnflag,
        |    CAST(least(floor(((least(greatest(l_quantity, 0.0), 50.0) - 0.0)
        |      / 50.0) * 2048), 2047) AS INT) AS bin FROM lineitem),
        |counts AS (SELECT l_returnflag, bin, count(*) AS c FROM base GROUP BY 1, 2),
        |grid AS (SELECT k.l_returnflag, CAST(r.range AS INT) AS bin
        |  FROM (VALUES ('A'), ('N'), ('R')) k(l_returnflag) CROSS JOIN range(2048) r),
        |filled AS (SELECT g.l_returnflag, g.bin, coalesce(c.c, 0) AS c
        |  FROM grid g LEFT JOIN counts c
        |  ON g.l_returnflag = c.l_returnflag AND g.bin = c.bin),
        |scored AS (SELECT l_returnflag, bin, c,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n FROM filled),
        |pick AS (SELECT l_returnflag, bin FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY -abs(cum - c/2.0 - 0.5*n) DESC,
        |             abs(bin - 0.5*2047) ASC, bin ASC) = 1)
        |SELECT l_returnflag, 0.0 + (bin + 0.5) * (50.0/2048) AS l_quantity_median FROM pick""".stripMargin,
    "q33b_median_intervals" ->
      """WITH vals AS (SELECT l_returnflag,
        |    least(greatest(l_quantity, 0.0), 50.0) AS v FROM lineitem),
        |ordered AS (SELECT l_returnflag, v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS i,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n,
        |    lead(v) OVER (PARTITION BY l_returnflag ORDER BY v) AS nxt
        |  FROM vals),
        |intervals AS (
        |  SELECT l_returnflag, CAST(i AS BIGINT) AS i, n, v AS lo,
        |    coalesce(nxt, 50.0) AS hi FROM ordered
        |  UNION ALL
        |  SELECT l_returnflag, 0, max(n), 0.0, min(v) FROM ordered GROUP BY 1),
        |pick AS (SELECT l_returnflag, lo, hi FROM intervals
        |  WHERE hi > lo
        |  QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY abs(i - 0.5 * n) ASC, i ASC) = 1)
        |SELECT l_returnflag, (lo + hi) / 2.0 AS l_quantity_median FROM pick""".stripMargin,
    "q34_quantile_p90" ->
      """WITH base AS (SELECT
        |    CAST(least(floor(((least(greatest(l_quantity, 0.0), 50.0) - 0.0)
        |      / 50.0) * 2048), 2047) AS INT) AS bin FROM lineitem),
        |counts AS (SELECT bin, count(*) AS c FROM base GROUP BY 1),
        |filled AS (SELECT CAST(r.range AS INT) AS bin, coalesce(c.c, 0) AS c
        |  FROM range(2048) r LEFT JOIN counts c ON c.bin = r.range),
        |scored AS (SELECT bin, c,
        |    sum(c) OVER (ORDER BY bin) AS cum, sum(c) OVER () AS n FROM filled),
        |pick AS (SELECT bin FROM scored
        |  QUALIFY row_number() OVER (
        |    ORDER BY -abs(cum - c/2.0 - 0.9*n) DESC,
        |             abs(bin - 0.9*2047) ASC, bin ASC) = 1)
        |SELECT 0.0 + (bin + 0.5) * (50.0/2048) AS "l_quantity_quantile(0.9)" FROM pick""".stripMargin,
    // GetBounds: magnitude histogram over exact powers of two (2^k is an
    // exact double, so the <= comparison is bit-identical to Spark's), then
    // the deterministic eps=Inf finisher: smallest k with cum >= 0.95*n.
    "q35_get_bounds" ->
      """WITH m AS (SELECT CASE WHEN abs(l_extendedprice) = 0.0 THEN -32
        |    ELSE coalesce(list_min(list_filter(range(-32, 63),
        |      k -> abs(l_extendedprice) <= power(2.0, k))), 62) END AS mag
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT mag, count(*) AS cnt FROM m GROUP BY mag),
        |pick AS (SELECT min(t.k) AS k FROM range(-32, 63) t(k)
        |  WHERE (SELECT coalesce(sum(cnt), 0) FROM c WHERE mag <= t.k)
        |        >= 0.95 * (SELECT coalesce(sum(cnt), 0) FROM c))
        |SELECT -power(2.0, k) AS l_extendedprice_lower_bound,
        |  power(2.0, k) AS l_extendedprice_upper_bound FROM pick""".stripMargin,
    "q65_get_bounds_grouped" ->
      """WITH m AS (SELECT l_returnflag,
        |    CASE WHEN abs(l_extendedprice) = 0.0 THEN -32
        |    ELSE coalesce(list_min(list_filter(range(-32, 63),
        |      k -> abs(l_extendedprice) <= power(2.0, k))), 62) END AS mag
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT l_returnflag, mag, count(*) AS cnt FROM m GROUP BY 1, 2),
        |pick AS (SELECT f.l_returnflag AS l_returnflag, min(t.k) AS k
        |  FROM (VALUES ('A'), ('N'), ('R')) f(l_returnflag)
        |  CROSS JOIN range(-32, 63) t(k)
        |  WHERE (SELECT coalesce(sum(cnt), 0) FROM c
        |         WHERE c.l_returnflag = f.l_returnflag AND mag <= t.k)
        |        >= 0.95 * (SELECT coalesce(sum(cnt), 0) FROM c
        |                   WHERE c.l_returnflag = f.l_returnflag)
        |  GROUP BY 1)
        |SELECT l_returnflag, -power(2.0, k) AS l_extendedprice_lower_bound,
        |  power(2.0, k) AS l_extendedprice_upper_bound
        |FROM pick""".stripMargin,
    "q55_count_distinct_ids" ->
      "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events",
    "q67_id_space_joint" -> countOracle(
      Seq("click", "error", "purchase", "signup", "view"), "event_type",
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1"),
    "q68_rows_across_groups" -> countOracle(Seq("A", "N", "R"), "l_returnflag",
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1"),
    "q70_winnowing_fingerprints" ->
      // mirrors the Spark expression exactly: md5-derived token hashes mod
      // 2^31-1, base-131 rolling 4-gram fold, window-of-5 minima, distinct
      """WITH toks AS (SELECT doc_id,
        |    list_transform(string_split_regex(trim(lower(text)), '\s+'),
        |      t -> ('0x'||substr(md5(t),1,8))::BIGINT % 2147483647) AS th
        |  FROM documents),
        |g AS (SELECT doc_id, th, len(th) AS n FROM toks),
        |grams AS (SELECT doc_id,
        |    CASE WHEN n >= 4 THEN list_transform(range(1, n - 2), j ->
        |      ((((((th[j]*131 + th[j+1]) % 2147483647)*131
        |        + th[j+2]) % 2147483647)*131 + th[j+3]) % 2147483647))
        |    ELSE [] END AS gh
        |  FROM g),
        |m AS (SELECT doc_id, gh, len(gh) AS ng FROM grams),
        |mins AS (SELECT doc_id,
        |    CASE WHEN ng >= 5 THEN list_transform(range(1, ng - 3), j ->
        |        list_min(gh[j:j+4]))
        |      WHEN ng >= 1 THEN [list_min(gh)]
        |      ELSE [] END AS fps
        |  FROM m)
        |SELECT doc_id,
        |  CAST(len(list_distinct(fps)) AS INTEGER) AS n_fingerprints
        |FROM mins""".stripMargin,
    "q69_sessionization_batch" ->
      """WITH e AS (SELECT user_id, event_id AS ts_sec FROM events),
        |d AS (SELECT user_id, ts_sec,
        |    CASE WHEN lag(ts_sec) OVER w IS NULL
        |           OR ts_sec - lag(ts_sec) OVER w > 600 THEN 1 ELSE 0 END AS n
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
        |s AS (SELECT user_id, ts_sec, CAST(sum(n) OVER (
        |    PARTITION BY user_id ORDER BY ts_sec
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM d)
        |SELECT user_id, session_idx,
        |  min(ts_sec) AS session_start, max(ts_sec) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q64_histogram_date" -> dateHistOracle,
    "q66_histogram_string" ->
      """SELECT k.p_name_binned AS p_name_binned,
        |  CAST(coalesce(t.cnt, 0) AS BIGINT) AS count
        |FROM (VALUES ('[''a'', ''h'']'), ('(''h'', ''p'']'), ('(''p'', ''zz'']'))
        |  k(p_name_binned)
        |LEFT JOIN (SELECT CASE
        |    WHEN p_name >= 'a' AND p_name <= 'h' THEN '[''a'', ''h'']'
        |    WHEN p_name > 'h' AND p_name <= 'p' THEN '(''h'', ''p'']'
        |    WHEN p_name > 'p' AND p_name <= 'zz' THEN '(''p'', ''zz'']'
        |    END AS p_name_binned, count(*) AS cnt
        |  FROM part GROUP BY 1) t USING (p_name_binned)""".stripMargin,
    "q63_count_distinct_ids_grouped" ->
      """SELECT k.event_type AS event_type,
        |  CAST(coalesce(t.c, 0) AS BIGINT) AS "count_distinct(user_id)"
        |FROM (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view'))
        |  k(event_type)
        |LEFT JOIN (SELECT event_type, count(DISTINCT user_id) AS c
        |           FROM events GROUP BY 1) t USING (event_type)""".stripMargin,
    "q61_join_private_ids" ->
      """SELECT CAST(count(*) AS BIGINT) AS count
        |FROM events a JOIN events b ON a.user_id = b.user_id""".stripMargin,
    "q56_dp_language_histogram" ->
      """SELECT k.lang_det AS lang_det, CAST(coalesce(t.cnt, 0) AS BIGINT) AS count
        |FROM (VALUES ('en'), ('de'), ('es'), ('fr'), ('zh'), ('und')) k(lang_det)
        |LEFT JOIN (
        |  SELECT CASE
        |      WHEN en > 0 AND en = best THEN 'en'
        |      WHEN de > 0 AND de = best THEN 'de'
        |      WHEN es > 0 AND es = best THEN 'es'
        |      WHEN fr > 0 AND fr = best THEN 'fr'
        |      WHEN zh > 0 AND zh = best THEN 'zh'
        |      ELSE 'und' END AS lang_det, count(*) AS cnt
        |  FROM (
        |    SELECT *, greatest(en, de, es, fr, zh) AS best FROM (
        |      SELECT
        |        len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|in|that|it|for|you|with)\b')) AS en,
        |        len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|eine|zu|den|von|mit)\b')) AS de,
        |        len(regexp_extract_all(text, '(?i)\b(el|la|los|las|de|que|y|en|un|una|es|por|para)\b')) AS es,
        |        len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|que|des|une|dans|pour|qui|sur)\b')) AS fr,
        |        len(regexp_extract_all(text, '[\p{Han}]')) AS zh
        |      FROM documents))
        |  GROUP BY 1) t USING (lang_det)""".stripMargin,
    "q57_dp_quality_dedup_count" ->
      """SELECT CAST(count(*) AS BIGINT) AS count FROM (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS t,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS chars,
        |    length(text) AS lc,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np
        |  FROM (SELECT DISTINCT text FROM documents))
        |WHERE t BETWEEN 5 AND 100000
        |  AND (CAST(chars AS DOUBLE) / CAST(t AS DOUBLE)) BETWEEN 2.0 AND 12.0
        |  AND (CAST(np AS DOUBLE) / CAST(lc AS DOUBLE)) < 0.3""".stripMargin,
    "q58_dp_token_sum" ->
      """SELECT CAST(sum(least(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(string_split_regex(trim(text), '\s+')) END, 0), 5000)) AS BIGINT)
        |  AS tokens_sum FROM documents""".stripMargin,
    "q38_auto_partition" ->
      "SELECT event_type, CAST(count(*) AS BIGINT) AS count FROM events GROUP BY 1",
    // IDs partition: the loose MaxGroupsPerID(5) keeps every row (five
    // event types exist), so the click child's distinct-user count is the
    // plain relational answer
    "q80_ids_partition" ->
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM events WHERE event_type = 'click'""".stripMargin,
    // zCDP partition twin: nothing truncates (cap above any user's rows),
    // so the noiseless child count is the plain relational answer
    "q82_zcdp_ids_partition" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_view_events
        |FROM events WHERE event_type = 'view'""".stripMargin,
    // composed detect: detected event types (all observed, noiseless
    // threshold) minus 'purchase', crossed with bucket {0,1}; absent cells
    // zero-fill
    "q79_detect_composed" ->
      """WITH det AS (SELECT DISTINCT event_type FROM events
        |             WHERE event_type <> 'purchase'),
        |keys AS (SELECT event_type, b.bucket FROM det
        |         CROSS JOIN (VALUES (0), (1)) b(bucket)),
        |c AS (SELECT event_type, event_id % 2 AS bucket, count(*) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT k.event_type AS event_type, CAST(k.bucket AS BIGINT) AS bucket,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS count
        |FROM keys k LEFT JOIN c
        |  ON k.event_type = c.event_type AND k.bucket = c.bucket""".stripMargin,
    "q39_zcdp_sum" ->
      s"""SELECT k.l_returnflag AS l_returnflag, coalesce(t.s, 0.0) AS l_quantity_sum
         |FROM (VALUES ('A'), ('N'), ('R')) k(l_returnflag)
         |LEFT JOIN (SELECT l_returnflag, sum($clamp) AS s
         |           FROM lineitem GROUP BY 1) t USING (l_returnflag)""".stripMargin,
    "q52_join_public_left" -> countOracle(Seq("yes", "no"), "matched",
      """SELECT CASE WHEN n.n_name IS NULL THEN 'no' ELSE 'yes' END AS matched,
        |  count(*) AS cnt
        |FROM orders o LEFT JOIN nation n ON o.o_custkey % 100 = n.n_nationkey
        |GROUP BY 1""".stripMargin),
    "q53_grouping_flatmap" -> countOracle(Seq("big", "small"), "size_class",
      """SELECT CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END
        |  AS size_class, count(*) AS cnt FROM lineitem GROUP BY 1""".stripMargin),
    "q36_view" -> countOracle(Seq("A", "N", "R"), "l_returnflag",
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem WHERE l_quantity > 25 GROUP BY 1"),
    "q37_partition_and_create" ->
      "SELECT CAST(count(*) AS BIGINT) AS count FROM orders WHERE o_orderstatus = 'F'",
    "q40_dedup_exact" ->
      "SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text",
    "q41_fingerprint" ->
      """SELECT CAST(count(DISTINCT
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS BIGINT)
        |  AS n_fingerprints FROM documents""".stripMargin,
    // MinHash near-dup clusters, brute-force oracle: all-pairs exact
    // 3-gram Jaccard >= 0.5, transitive closure, min-id component label.
    // The engine prunes pairs via 64-band LSH then verifies with the same
    // exact Jaccard; a threshold pair escapes all bands with p ~ 1e-8, so
    // the verified pair sets (and hence components) agree.
    "q42_minhash_clusters" ->
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3
        |        THEN [array_to_string(toks, ' ')]
        |        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))) END AS sh FROM t),
        |e AS MATERIALIZED (SELECT a.doc_id AS ia, b.doc_id AS ib
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        |            / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5),
        |u AS MATERIALIZED (SELECT ia AS a, ib AS b FROM e
        |                   UNION SELECT ib, ia FROM e),
        |reach AS (SELECT a, b FROM u
        |          UNION SELECT r.a, u.b FROM reach r JOIN u ON r.b = u.a
        |                WHERE r.a <> u.b),
        |comp AS (SELECT a AS id, least(a, min(b)) AS c FROM reach GROUP BY a)
        |SELECT d.doc_id AS doc_id, coalesce(c.c, d.doc_id) AS cluster_id
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin,
    // SimHash near-dup pairs, brute-force oracle. The engine's banded
    // bucketing is exact by pigeonhole (hamming <= 3 implies one of the
    // four 16-bit chunks matches), and the md5-derived token hash
    // reproduces bit-for-bit in DuckDB, so the all-pairs scan must agree.
    "q43_simhash_pairs" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x'||substr(md5(t),1,8))::BIGINT AS hi,
        |             ('0x'||substr(md5(t),9,8))::BIGINT AS lo FROM toks),
        |bits AS (SELECT doc_id, b.range AS b,
        |    sum(CASE WHEN (CASE WHEN b.range >= 32 THEN hi >> (b.range - 32)
        |                   ELSE lo >> b.range END) & 1 = 1
        |        THEN 1 ELSE -1 END) AS acc
        |  FROM h CROSS JOIN range(64) b GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |    CAST(string_agg(CASE WHEN acc > 0 THEN '1' ELSE '0' END, ''
        |      ORDER BY b DESC) AS BIT) AS s
        |  FROM bits GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.s, b.s)) <= 3""".stripMargin,
    // Exact n-gram Jaccard pairs, brute-force oracle pruned to pairs that
    // share a shingle (sharing is implied by jaccard > 0, so no pair is
    // lost). The engine's prefix filter is exact-recall by construction;
    // the jaccard value mirrors the kernel's |A∩B| / (|A|+|B|-|A∩B|) shape.
    "q71_ngram_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3
        |        THEN [array_to_string(toks, ' ')]
        |        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))) END AS sh FROM t),
        |tok AS (SELECT doc_id, unnest(sh) AS w FROM s),
        |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |         FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id)
        |SELECT * FROM (
        |  SELECT c.ia AS id_a, c.ib AS id_b,
        |    len(list_intersect(x.sh, y.sh))::DOUBLE
        |      / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE
        |      AS jaccard
        |  FROM cand c JOIN s x ON c.ia = x.doc_id JOIN s y ON c.ib = y.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,
    // brute-force cross-join oracle for the banded cross-corpus scrub;
    // same shingling as q71
    "q86_dedup_against" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |      FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3
        |        THEN [array_to_string(toks, ' ')]
        |        ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))) END AS sh FROM t),
        |ref AS (SELECT * FROM s WHERE doc_id % 7 = 0),
        |corp AS (SELECT * FROM s WHERE doc_id % 7 <> 0)
        |SELECT * FROM (
        |  SELECT c.doc_id AS id, r.doc_id AS ref_id,
        |    len(list_intersect(c.sh, r.sh))::DOUBLE
        |      / (len(c.sh) + len(r.sh) - len(list_intersect(c.sh, r.sh)))::DOUBLE
        |      AS jaccard
        |  FROM corp c JOIN ref r ON len(list_intersect(c.sh, r.sh)) > 0)
        |WHERE jaccard >= 0.5""".stripMargin,
    // Exact top-k by cosine, rank-only: adjacent-rank cosine gaps in this
    // data are >= 1.9e-5 (measured at all SFs), so engine round-off cannot
    // reorder; ties broken by corpus_id in both engines.
    "q45_knn_bruteforce" -> knnOracle,
    "q62_knn_ivf_exact" -> knnOracle,
    // LSH top-k at provably-exhaustive parameters (1-bit bands + multi-probe
    // covers every bucket): must equal the exact top-k
    "q46b_knn_lsh_exact" -> knnOracle,
    // ids-only contract: membership at threshold 0.4 is macroscopically
    // separated in this data (nearest non-pair cosine ~0.48 vs planted
    // pairs >= 0.9), so engine round-off cannot flip the set
    "q73_embedding_pairs_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,
    // the LSH pair plumbing at exhaustive (one-bucket) coverage: must equal
    // the same brute-force pair set q73 is checked against
    "q44b_embedding_dedup_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,
    "q47_token_count" ->
      """SELECT CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |  AS token_count FROM documents""".stripMargin,
    // q48's gate formulas rolled up by ingest source; rate is a ratio of
    // small ints
    "q102_source_quality" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN t BETWEEN 5 AND 100000
        |    AND (CAST(chars AS DOUBLE) / CAST(t AS DOUBLE))
        |      BETWEEN 2.0 AND 12.0
        |    AND (CAST(np AS DOUBLE) / CAST(lc AS DOUBLE)) < 0.3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(t) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN t BETWEEN 5 AND 100000
        |    AND (CAST(chars AS DOUBLE) / CAST(t AS DOUBLE))
        |      BETWEEN 2.0 AND 12.0
        |    AND (CAST(np AS DOUBLE) / CAST(lc AS DOUBLE)) < 0.3
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pass_rate
        |FROM (
        |  SELECT source, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS t,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS chars,
        |    length(text) AS lc,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np
        |  FROM documents)
        |GROUP BY 1""".stripMargin,
    // q78's tokenization; the spectrum is pure integer counts
    "q103_token_spectrum" ->
      """WITH tok AS (SELECT unnest(
        |    string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS occurrences
        |  FROM tok WHERE length(token) > 0 GROUP BY 1)
        |SELECT occurrences, CAST(count(*) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1""".stripMargin,
    // q48's gate formulas, grouped by language over the streamed table —
    // availableNow is batch-equivalent, so the batch SQL is the oracle
    "q101_streaming_quality_gate" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_pass,
        |  CAST(sum(t) AS BIGINT) AS n_tokens FROM (
        |  SELECT lang, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS t,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS chars,
        |    length(text) AS lc,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np
        |  FROM documents)
        |WHERE t BETWEEN 5 AND 100000
        |  AND (CAST(chars AS DOUBLE) / CAST(t AS DOUBLE)) BETWEEN 2.0 AND 12.0
        |  AND (CAST(np AS DOUBLE) / CAST(lc AS DOUBLE)) < 0.3
        |GROUP BY 1""".stripMargin,
    "q48_quality_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_quality FROM (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS t,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS chars,
        |    length(text) AS lc,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np
        |  FROM documents)
        |WHERE t BETWEEN 5 AND 100000
        |  AND (CAST(chars AS DOUBLE) / CAST(t AS DOUBLE)) BETWEEN 2.0 AND 12.0
        |  AND (CAST(np AS DOUBLE) / CAST(lc AS DOUBLE)) < 0.3""".stripMargin,
    // same RE2-safe patterns, same longest-first order, 'g' for global
    "q76_pii_mask" ->
      """WITH m AS (SELECT text,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS masked
        |  FROM documents)
        |SELECT CAST(sum(CASE WHEN masked <> text THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  CAST(count(DISTINCT md5(masked)) AS BIGINT) AS n_distinct_masked
        |FROM m""".stripMargin,
    // same shingle definition as q71's oracle, at n=8 over case-folded
    // text; contamination = semi-join of training grams with blocklist
    // grams (every 100th doc)
    "q77_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 8
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' '))) END) AS g FROM t),
        |b AS (SELECT DISTINCT g FROM s WHERE doc_id % 100 = 0)
        |SELECT DISTINCT s.doc_id AS doc_id
        |FROM s JOIN b USING (g) WHERE s.doc_id % 100 <> 0""".stripMargin,
    // ties at the k-boundary break on the token string in both engines,
    // so the released 20-row set is deterministic
    "q78_top_tokens" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents)
        |WHERE length(token) > 0
        |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q75_corpus_profile" ->
      """SELECT "column", CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(total_len AS BIGINT) AS total_len
        |FROM (
        |  SELECT 'text' AS "column", count(*) AS n_rows,
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS n_nulls,
        |    sum(CASE WHEN text IS NULL THEN 0 ELSE length(text) END) AS total_len
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*),
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
        |    sum(CASE WHEN lang IS NULL THEN 0 ELSE length(lang) END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
        |    sum(CASE WHEN source IS NULL THEN 0 ELSE length(source) END)
        |  FROM documents)""".stripMargin,
    // The split cutoffs are computed by the same Scala arithmetic the
    // engine uses (cumulative double sums, floor to Long), then inlined as
    // integer literals — assignment is pure md5 arithmetic in both engines
    "q74_hash_split" -> {
      val cuts = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        .scanLeft(0.0)(_ + _._2).tail.map(graft.pipeline.Sampling.threshold)
      s"""WITH h AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |    AS hv FROM documents)
         |SELECT CASE WHEN hv < ${cuts(0)} THEN 'train'
         |            WHEN hv < ${cuts(1)} THEN 'val'
         |            WHEN hv < ${cuts(2)} THEN 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM h GROUP BY 1""".stripMargin
    },
    // per-group rank ties break on the token string in both engines
    "q83_top_tokens_by_lang" ->
      """SELECT lang, token, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT lang, token, count(*) AS n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, token) AS rank
        |  FROM (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+'))
        |          AS token FROM documents)
        |  WHERE length(token) > 0 GROUP BY lang, token) t
        |WHERE rank <= 5""".stripMargin,
    // grouped-sketch exact regime: capacity > vocabulary, so the sketch
    // ranking equals the exact per-group rank (q83's oracle at k = 3)
    "q118_group_heavy_hitters" ->
      """SELECT lang, token, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
        |FROM (
        |  SELECT lang, token, count(*) AS n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, token) AS rank
        |  FROM (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+'))
        |          AS token FROM documents)
        |  WHERE length(token) > 0 GROUP BY lang, token) t
        |WHERE rank <= 3""".stripMargin,
    // event_id is unique, so "latest prior click" is unambiguous and the
    // rn=1 pick matches the engine's hash tiebreak trivially
    "q119_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, value AS click_value
        |  FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.event_id, c.click_id, c.click_value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.click_id DESC) AS rn
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.click_id < p.event_id)
        |SELECT p.event_id, p.user_id, p.purchase_value,
        |  m.click_id, m.click_value
        |FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)""".stripMargin,
    "q120_range_join" ->
      """SELECT d.band AS band, CAST(count(*) AS BIGINT) AS n_items,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM (VALUES ('budget', 0.0, 20000.0), ('mid', 15000.0, 60000.0),
        |    ('high', 60000.0, 95000.0), ('luxe', 90000.0, 200000.0))
        |  d(band, lo, hi)
        |JOIN lineitem ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY 1""".stripMargin,
    "q121_svt_above_threshold" ->
      """WITH c AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1),
        |o AS (SELECT event_type, n,
        |    row_number() OVER (ORDER BY event_type) AS qid FROM c),
        |p AS (SELECT event_type, n > 2000.0 AS above,
        |    sum(CASE WHEN n > 2000.0 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY qid) AS npos
        |  FROM o)
        |SELECT event_type, CAST(npos AS BIGINT) AS rank
        |FROM p WHERE above AND npos <= 2""".stripMargin,
    // q107's tokenization; transitions cost round(ln((cu+0.5V)/(cuv+0.5))e6)
    // micro-nats — ratio >= 1 (cu >= cuv, V >= 1) so costs >= 0 and DuckDB
    // half-away rounding agrees with Spark half-up; docs with < 2 tokens
    // have no transitions and emit no row
    "q122_bigram_logprob" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ls
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi AS (SELECT doc_id, ls[i] AS u, ls[i+1] AS v
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ls) - 1)) AS i)
        |  WHERE len(ls) >= 2),
        |cuv AS (SELECT u, v, CAST(count(*) AS BIGINT) AS cuv
        |  FROM bi GROUP BY 1, 2),
        |cu AS (SELECT u, CAST(sum(cuv) AS BIGINT) AS cu FROM cuv GROUP BY 1),
        |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz
        |  FROM (SELECT unnest(ls) AS tok FROM t)),
        |cost AS (SELECT u, v, CAST(round(ln(
        |      (cu::DOUBLE + 0.5 * vsz::DOUBLE) / (cuv::DOUBLE + 0.5)) * 1e6)
        |    AS BIGINT) AS ce
        |  FROM cuv JOIN cu USING (u) CROSS JOIN voc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(ce) AS BIGINT) AS nll_sum_e6,
        |  CAST(sum(ce) AS DOUBLE) / count(*) AS mean_nll_e6
        |FROM bi JOIN cost USING (u, v) GROUP BY 1""".stripMargin,
    // the exact column is oracled exactly; the two booleans are
    // deterministic contracts (DataSketches HLL has no RNG): the rolled-up
    // and direct estimates each sit ~8 sigma inside the 5% tolerance at
    // lgK=14
    "q123_distinct_sketch_rollup" ->
      """SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |  TRUE AS rollup_within_5pct, TRUE AS est_within_5pct
        |FROM documents GROUP BY 1""".stripMargin,
    // q54's window arithmetic; the exact column is oracled exactly and the
    // estimate contract is deterministic (DataSketches HLL has no RNG)
    "q129_streaming_distinct_users" ->
      """SELECT CAST((event_id // 600) * 600 AS BIGINT) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  TRUE AS est_within_5pct
        |FROM events GROUP BY 1""".stripMargin,
    // serpentine striping reproduces rank-for-rank in SQL: pass r/ng
    // alternates direction, offset r%ng picks the group
    "q136_compaction_plan" ->
      """WITH f AS (SELECT source || '/' || doc_id AS path,
        |    CAST(length(text) AS BIGINT) AS bytes FROM documents),
        |t AS (SELECT greatest(CAST(ceil(sum(bytes)::DOUBLE / 4096) AS BIGINT),
        |    1) AS ng FROM f),
        |r AS (SELECT path, bytes,
        |    row_number() OVER (ORDER BY bytes DESC, path) - 1 AS r, ng
        |  FROM f CROSS JOIN t),
        |a AS (SELECT path, bytes, CASE WHEN (r // ng) % 2 = 0 THEN r % ng
        |    ELSE ng - 1 - r % ng END AS grp FROM r)
        |SELECT CAST(grp AS BIGINT) AS "group",
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes
        |FROM a GROUP BY 1""".stripMargin,
    // q130's staged CTEs carrying the previous stage's time; gaps are
    // integer-valued, so min/max/sum are exact in any order
    "q135_funnel_gaps" ->
      """WITH s1 AS (SELECT user_id, min(event_id) AS t FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.event_id) AS t, s1.t AS pt
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.event_id > s1.t
        |  GROUP BY e.user_id, s1.t),
        |s3 AS (SELECT e.user_id, min(e.event_id) AS t, s2.t AS pt
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.event_id > s2.t
        |  GROUP BY e.user_id, s2.t)
        |SELECT 2 AS step, 'click' AS step_name,
        |  CAST(count(*) AS BIGINT) AS n_entities,
        |  CAST(min(t - pt) AS DOUBLE) AS min_gap,
        |  CAST(max(t - pt) AS DOUBLE) AS max_gap,
        |  CAST(sum(t - pt) AS DOUBLE) AS sum_gap FROM s2
        |UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
        |  CAST(min(t - pt) AS DOUBLE), CAST(max(t - pt) AS DOUBLE),
        |  CAST(sum(t - pt) AS DOUBLE) FROM s3""".stripMargin,
    // the quantizer divides by the unit (v / 0.000001, NOT v * 1e6 —
    // different IEEE doubles); floor(x + 0.5) is the sign-safe
    // engine-portable snap, and the mean is (exact sum / n) * unit
    "q134_embedding_mean_pool" ->
      """WITH e AS (SELECT label, CAST(u.ord - 1 AS INTEGER) AS pos,
        |    CAST(floor(embedding[u.ord]::DOUBLE / 0.000001 + 0.5) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(ord)
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND embedding[u.ord] IS NOT NULL),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
        |  GROUP BY 1)
        |SELECT e.label, n.n_vecs, e.pos,
        |  CAST(sum(q) AS DOUBLE) / count(*) * 0.000001 AS mean_val
        |FROM e JOIN n USING (label) GROUP BY 1, 2, 3""".stripMargin,
    // q130's staged CTEs with the conversion-window bound added
    "q133_funnel_window" ->
      """WITH s1 AS (SELECT user_id, min(event_id) AS t FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.event_id) AS t FROM events e
        |    JOIN s1 USING (user_id)
        |    WHERE e.event_type = 'click' AND e.event_id > s1.t
        |      AND e.event_id <= s1.t + 1200 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.event_id) AS t FROM events e
        |    JOIN s2 USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.event_id > s2.t
        |      AND e.event_id <= s2.t + 1200 GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_entities
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase',
        |  CAST((SELECT count(*) FROM s3) AS BIGINT)""".stripMargin,
    // collision-free regime at these 5 keys: the CMS estimate IS the
    // exact count (value-oracled); merge exactness is structural
    "q132_cms_frequencies" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS cms_estimate, TRUE AS merge_exact
        |FROM events GROUP BY 1""".stripMargin,
    // cohort = min active period per user; ages count distinct active
    // periods relative to it
    "q131_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    CAST(event_id // 600 AS BIGINT) AS p FROM events),
        |c AS (SELECT user_id, min(p) AS c FROM a GROUP BY 1)
        |SELECT c.c AS cohort, a.p - c.c AS age,
        |  CAST(count(*) AS BIGINT) AS n_active
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,
    // staged min-completion times: s_i = earliest step-i event strictly
    // after the entity's s_{i-1}
    // q168's gaps-and-islands session ids composed with q130's staged
    // min-chains, keyed on (user, session)
    "q184_session_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL),
        |flag AS (SELECT user_id, event_id, event_type,
        |  CASE WHEN lag(event_id) OVER w IS NULL
        |    OR event_id - lag(event_id) OVER w > 100 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |sess AS (SELECT user_id, event_id, event_type,
        |  sum(nw) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flag),
        |s1 AS (SELECT user_id, sid, min(event_id) AS t FROM sess
        |    WHERE event_type = 'view' GROUP BY 1, 2),
        |s2 AS (SELECT e2.user_id, e2.sid, min(e2.event_id) AS t
        |    FROM sess e2 JOIN s1 ON s1.user_id = e2.user_id
        |      AND s1.sid = e2.sid
        |    WHERE e2.event_type = 'click' AND e2.event_id > s1.t
        |    GROUP BY 1, 2),
        |s3 AS (SELECT e3.user_id, e3.sid, min(e3.event_id) AS t
        |    FROM sess e3 JOIN s2 ON s2.user_id = e3.user_id
        |      AND s2.sid = e3.sid
        |    WHERE e3.event_type = 'purchase' AND e3.event_id > s2.t
        |    GROUP BY 1, 2)
        |SELECT 1 AS step, 'view' AS step_name,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_entities
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase',
        |  CAST((SELECT count(*) FROM s3) AS BIGINT)""".stripMargin,
    "q130_event_funnel" ->
      """WITH s1 AS (SELECT user_id, min(event_id) AS t FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.event_id) AS t FROM events e
        |    JOIN s1 USING (user_id)
        |    WHERE e.event_type = 'click' AND e.event_id > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.event_id) AS t FROM events e
        |    JOIN s2 USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.event_id > s2.t GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_entities
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase',
        |  CAST((SELECT count(*) FROM s3) AS BIGINT)""".stripMargin,
    // same md5 uniform as q81; the exponential key -ln(u)/w reproduces in
    // SQL (w = q47's token count; zero-token docs carry no sampling mass)
    "q128_weighted_quota" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
        |        / 4294967296.0)
        |      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE),
        |      doc_id) AS rk
        |  FROM documents WHERE length(trim(text)) > 0) t
        |WHERE rk <= 20""".stripMargin,
    // GROUPING_ID bitmask semantics match Spark's (1 bit per rolled-up
    // column); q47's token formula
    "q127_corpus_mix_rollup" ->
      """SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS INTEGER) AS grouping_level,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
        |    AS n_tokens
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    // q42's shingling convention (short docs contribute their whole text);
    // true distinct counts < k = 2^15 at every test SF, so the sketch
    // retains every hash and all four released numbers are exact
    // the identical normalization chain: nfc_normalize -> strip C0/C1/DEL
    // -> collapse \s+ -> trim; chr(769) is the combining acute, chr(7)
    // the BEL control
    "q151_normalize_text" ->
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    nfc_normalize(CASE WHEN doc_id % 5 = 0
        |      THEN text || ' caf' || 'e' || chr(769) || chr(7) || '  x'
        |      ELSE text END),
        |    '[\x00-\x1F\x7F\x{0080}-\x{009F}]', ' ', 'g'),
        |  '\s+', ' ', 'g'))) AS norm_md5
        |FROM documents""".stripMargin,
    // q148's seeded-base recurrence with q153's weighted contribution
    "q160_weighted_ppr" ->
      """WITH pairs AS (SELECT
        |    'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |e AS (SELECT c AS src, s AS dst, w FROM pairs
        |  UNION ALL SELECT s, c, w FROM pairs),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds0 AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
        |  FROM supplier
        |  WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)),
        |seeds AS (SELECT node FROM seeds0
        |  WHERE node IN (SELECT node FROM n)),
        |bs AS (SELECT 1000000000000 // count(*) AS base FROM seeds),
        |nb AS (SELECT n.node, CASE WHEN s.node IS NOT NULL
        |    THEN (SELECT base FROM bs) ELSE 0 END AS base
        |  FROM n LEFT JOIN seeds s USING (node)),
        |deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, base AS r FROM nb),
        |c1 AS (SELECT e.dst AS node, sum((r0.r * e.w) // deg.deg) AS s FROM e
        |  JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT nb.node, (15 * nb.base) // 100
        |    + (85 * coalesce(c1.s, 0)) // 100 AS r
        |  FROM nb LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum((r1.r * e.w) // deg.deg) AS s FROM e
        |  JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT nb.node, (15 * nb.base) // 100
        |    + (85 * coalesce(c2.s, 0)) // 100 AS r
        |  FROM nb LEFT JOIN c2 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r2
        |ORDER BY r DESC, node LIMIT 20""".stripMargin,
    // the naive theta join IS the oracle (quadratic per key is fine at
    // oracle scale); the grid join must release the identical pair set
    "q169_interval_overlap" ->
      """WITH li AS (SELECT l_partkey,
        |    l_orderkey*16 + l_linenumber AS id,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      AS BIGINT) AS lo,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      + CAST(l_quantity AS BIGINT) % 14 + 1 AS BIGINT) AS hi
        |  FROM lineitem)
        |SELECT a.l_partkey, a.id AS id_a, b.id AS id_b,
        |  a.lo AS lo_a, b.lo AS lo_b
        |FROM li a JOIN li b
        |ON a.l_partkey = b.l_partkey AND a.id < b.id
        |  AND a.lo < b.hi AND b.lo < a.hi""".stripMargin,
    // same gap flag via lag, same running-sum session index, same
    // per-session rollup
    "q168_session_table" ->
      """WITH e AS (SELECT user_id, event_id FROM events
        |  WHERE user_id IS NOT NULL),
        |flag AS (SELECT user_id, event_id,
        |  CASE WHEN lag(event_id) OVER w IS NULL
        |    OR event_id - lag(event_id) OVER w > 100 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |sess AS (SELECT user_id, event_id,
        |  CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flag)
        |SELECT user_id, session_id, min(event_id) AS session_start,
        |  max(event_id) AS session_end, CAST(count(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY 1, 2""".stripMargin,
    // q164's batch oracle verbatim: one file -> one AvailableNow batch,
    // so the streaming state recurrence must reproduce the window form
    "q167_streaming_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type IN ('click','view','signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type,
        |    last_value(CASE WHEN event_type IN ('click','view','signup')
        |        THEN event_id END IGNORE NULLS)
        |      OVER w AS touch_time
        |  FROM events WHERE user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |    RANGE BETWEEN 500 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, touch_type, touch_time
        |FROM tagged WHERE event_type = 'purchase'""".stripMargin,
    // same support semantics without the A-priori prune (the prune never
    // changes the released set, only the join size)
    "q166_frequent_pairs" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)
        |SELECT a.i AS item_a, b2.i AS item_b,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM bi a JOIN bi b2 ON a.b = b2.b AND a.i < b2.i
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
    // transitive closure by recursive CTE over the same levenshtein
    // edges; canonical = min reachable name (single linkage)
    "q165_entity_resolution" ->
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) > 0),
        |e AS (SELECT a.name AS x, b.name AS y FROM names a JOIN names b
        |  ON a.name <> b.name AND levenshtein(a.name, b.name) <= 2),
        |reach(a, b) AS (
        |  SELECT name, name FROM names
        |  UNION
        |  SELECT r.a, e.y FROM reach r JOIN e ON r.b = e.x)
        |SELECT a AS name, min(b) AS canonical FROM reach GROUP BY a""".stripMargin,
    // same independent recursive-CTE closure, canonicals by row count
    // (ties to the smaller name) via a per-source rank over the members
    "q173_entity_resolution_frequent" ->
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) > 0),
        |counts AS (SELECT p_name AS name, COUNT(*) AS cnt FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) > 0 GROUP BY 1),
        |e AS (SELECT a.name AS x, b.name AS y FROM names a JOIN names b
        |  ON a.name <> b.name AND levenshtein(a.name, b.name) <= 2),
        |reach(a, b) AS (
        |  SELECT name, name FROM names
        |  UNION
        |  SELECT r.a, e.y FROM reach r JOIN e ON r.b = e.x),
        |ranked AS (SELECT r.a, r.b, ROW_NUMBER() OVER (PARTITION BY r.a
        |    ORDER BY c.cnt DESC, r.b) AS rk
        |  FROM reach r JOIN counts c ON c.name = r.b)
        |SELECT a AS name, b AS canonical FROM ranked
        |WHERE rk = 1""".stripMargin,
    // same single window over ALL events (filter after, so the frame
    // sees every touch), same RANGE [-500, -1) frame, ignore-nulls last
    "q164_touch_attribution" ->
      """WITH tagged AS (
        |  SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type IN ('click','view','signup')
        |        THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_type,
        |    last_value(CASE WHEN event_type IN ('click','view','signup')
        |        THEN event_id END IGNORE NULLS)
        |      OVER w AS touch_time
        |  FROM events WHERE user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |    RANGE BETWEEN 500 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, touch_type, touch_time
        |FROM tagged WHERE event_type = 'purchase'""".stripMargin,
    // independent formulation: conversions-to-touches range self-join
    // (fine at oracle scale) vs the engine's one-exchange window fold
    "q170_multi_touch_linear" ->
      """WITH ev AS (SELECT user_id, event_id, event_type FROM events
        |    WHERE user_id IS NOT NULL),
        |  conv AS (SELECT user_id, event_id FROM ev
        |    WHERE event_type = 'purchase'),
        |  tch AS (SELECT user_id, event_id AS t, event_type AS y FROM ev
        |    WHERE event_type IN ('click','view','signup')),
        |  j AS (SELECT c.user_id, c.event_id, h.y AS touch_type,
        |      h.t AS touch_time
        |    FROM conv c LEFT JOIN tch h ON h.user_id = c.user_id
        |      AND h.t BETWEEN c.event_id - 500 AND c.event_id - 1)
        |SELECT user_id, event_id, touch_type, touch_time,
        |  CASE WHEN touch_time IS NULL THEN NULL
        |    ELSE CAST(1 AS DOUBLE) /
        |      COUNT(touch_time) OVER (PARTITION BY user_id, event_id)
        |  END AS credit
        |FROM j""".stripMargin,
    "q171_multi_touch_position" ->
      """WITH ev AS (SELECT user_id, event_id, event_type FROM events
        |    WHERE user_id IS NOT NULL),
        |  conv AS (SELECT user_id, event_id FROM ev
        |    WHERE event_type = 'purchase'),
        |  tch AS (SELECT user_id, event_id AS t, event_type AS y FROM ev
        |    WHERE event_type IN ('click','view','signup')),
        |  j AS (SELECT c.user_id, c.event_id, h.y AS touch_type,
        |      h.t AS touch_time
        |    FROM conv c LEFT JOIN tch h ON h.user_id = c.user_id
        |      AND h.t BETWEEN c.event_id - 500 AND c.event_id - 1),
        |  r AS (SELECT user_id, event_id, touch_type, touch_time,
        |      COUNT(touch_time)
        |        OVER (PARTITION BY user_id, event_id) AS n,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, event_id
        |        ORDER BY touch_time, touch_type) AS rk
        |    FROM j)
        |SELECT user_id, event_id, touch_type, touch_time,
        |  CASE WHEN touch_time IS NULL THEN NULL
        |    WHEN n = 1 THEN CAST(1 AS DOUBLE)
        |    WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |    WHEN rk = 1 OR rk = n THEN CAST(0.4 AS DOUBLE)
        |    ELSE CAST(0.2 AS DOUBLE) / (n - 2)
        |  END AS credit
        |FROM r""".stripMargin,
    "q172_time_decay_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, event_type FROM events
        |    WHERE user_id IS NOT NULL),
        |  conv AS (SELECT user_id, event_id FROM ev
        |    WHERE event_type = 'purchase'),
        |  tch AS (SELECT user_id, event_id AS t, event_type AS y FROM ev
        |    WHERE event_type IN ('click','view','signup')),
        |  j AS (SELECT c.user_id, c.event_id, h.y AS touch_type,
        |      h.t AS touch_time
        |    FROM conv c LEFT JOIN tch h ON h.user_id = c.user_id
        |      AND h.t BETWEEN c.event_id - 500 AND c.event_id - 1),
        |  r AS (SELECT user_id, event_id, touch_type, touch_time,
        |      CASE WHEN touch_time IS NULL THEN NULL
        |        ELSE (CAST(1 AS BIGINT) << CAST(
        |          40 - (event_id - touch_time) // 50 AS INTEGER))
        |      END AS w
        |    FROM j)
        |SELECT user_id, event_id, touch_type, touch_time,
        |  CAST(w AS DOUBLE) / CAST(SUM(w)
        |    OVER (PARTITION BY user_id, event_id) AS DOUBLE) AS credit
        |FROM r""".stripMargin,
    // the streaming twin is bit-identical over one AvailableNow batch:
    // the q172 formulation applies verbatim
    "q181_streaming_multi_touch" ->
      """WITH ev AS (SELECT user_id, event_id, event_type FROM events
        |    WHERE user_id IS NOT NULL),
        |  conv AS (SELECT user_id, event_id FROM ev
        |    WHERE event_type = 'purchase'),
        |  tch AS (SELECT user_id, event_id AS t, event_type AS y FROM ev
        |    WHERE event_type IN ('click','view','signup')),
        |  j AS (SELECT c.user_id, c.event_id, h.y AS touch_type,
        |      h.t AS touch_time
        |    FROM conv c LEFT JOIN tch h ON h.user_id = c.user_id
        |      AND h.t BETWEEN c.event_id - 500 AND c.event_id - 1),
        |  r AS (SELECT user_id, event_id, touch_type, touch_time,
        |      CASE WHEN touch_time IS NULL THEN NULL
        |        ELSE (CAST(1 AS BIGINT) << CAST(
        |          40 - (event_id - touch_time) // 50 AS INTEGER))
        |      END AS w
        |    FROM j)
        |SELECT user_id, event_id, touch_type, touch_time,
        |  CAST(w AS DOUBLE) / CAST(SUM(w)
        |    OVER (PARTITION BY user_id, event_id) AS DOUBLE) AS credit
        |FROM r""".stripMargin,
    // identical edges from quantile_disc over the reference, identical
    // CASE binning, truncating // for the ppm shares, zero-fill via
    // generate_series
    "q182_distribution_drift" ->
      """WITH r AS (SELECT n_chars FROM documents
        |    WHERE lang = 'en' AND n_chars IS NOT NULL),
        |c AS (SELECT n_chars FROM documents
        |    WHERE lang <> 'en' AND n_chars IS NOT NULL),
        |e AS (SELECT quantile_disc(n_chars, 0.25) AS e1,
        |    quantile_disc(n_chars, 0.5) AS e2,
        |    quantile_disc(n_chars, 0.75) AS e3 FROM r),
        |u AS (SELECT CASE WHEN n_chars <= e.e1 THEN 0
        |      WHEN n_chars <= e.e2 THEN 1
        |      WHEN n_chars <= e.e3 THEN 2 ELSE 3 END AS bin, 0 AS side
        |    FROM r, e
        |  UNION ALL
        |  SELECT CASE WHEN n_chars <= e.e1 THEN 0
        |      WHEN n_chars <= e.e2 THEN 1
        |      WHEN n_chars <= e.e3 THEN 2 ELSE 3 END AS bin, 1 AS side
        |    FROM c, e),
        |cnt AS (SELECT bin,
        |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_ref,
        |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_cur
        |  FROM u GROUP BY bin),
        |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM cnt),
        |bins AS (SELECT unnest(generate_series(0, 3)) AS bin)
        |SELECT CAST(b.bin AS INTEGER) AS bin,
        |  CAST(COALESCE(cnt.n_ref, 0) AS BIGINT) AS n_ref,
        |  CAST(COALESCE(cnt.n_cur, 0) AS BIGINT) AS n_cur,
        |  CAST(CASE WHEN t.tr = 0 THEN 0
        |    ELSE COALESCE(cnt.n_ref, 0) * 1000000 // t.tr END
        |    AS BIGINT) AS ref_ppm,
        |  CAST(CASE WHEN t.tc = 0 THEN 0
        |    ELSE COALESCE(cnt.n_cur, 0) * 1000000 // t.tc END
        |    AS BIGINT) AS cur_ppm
        |FROM bins b LEFT JOIN cnt ON cnt.bin = b.bin, t""".stripMargin,
    // two unrolled Lloyd rounds in pure SQL over the SAME integer
    // micro-units: quantize, seed from the 4 smallest vec_ids, assign by
    // (distance, cid) rank, per-dimension truncating integer mean
    // (DuckDB // == Spark div toward zero), emptied clusters keep their
    // previous centroid via the COALESCE left join
    "q176_kmeans" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
        |  FROM e ORDER BY vec_id LIMIT 4),
        |d1 AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.v)),
        |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS d
        |  FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cid, d FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d1)
        |  WHERE rk = 1),
        |x1 AS (SELECT a1.cid AS cid, unnest(e.v) AS val,
        |    unnest(generate_series(1, len(e.v))) AS dim
        |  FROM a1 JOIN e USING (vec_id)),
        |m1 AS (SELECT cid, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        |  FROM x1 GROUP BY cid, dim),
        |c1 AS (SELECT c0.cid, COALESCE(mm.v, c0.v) AS v FROM c0
        |  LEFT JOIN (SELECT cid, list(m ORDER BY dim) AS v FROM m1
        |    GROUP BY cid) mm USING (cid)),
        |d2 AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.v)),
        |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS d
        |  FROM e CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, cid, d FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d2)
        |  WHERE rk = 1)
        |SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
        |  CAST(d AS BIGINT) AS dist_sq
        |FROM a2""".stripMargin,
    // the q176 chain composed with q81's md5 quota: 30 smallest
    // id-hashes per cluster, hash/tie discipline identical
    "q183_diverse_sample" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
        |  FROM e ORDER BY vec_id LIMIT 4),
        |d1 AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.v)),
        |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS d
        |  FROM e CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cid, d FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d1)
        |  WHERE rk = 1),
        |x1 AS (SELECT a1.cid AS cid, unnest(e.v) AS val,
        |    unnest(generate_series(1, len(e.v))) AS dim
        |  FROM a1 JOIN e USING (vec_id)),
        |m1 AS (SELECT cid, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        |  FROM x1 GROUP BY cid, dim),
        |c1 AS (SELECT c0.cid, COALESCE(mm.v, c0.v) AS v FROM c0
        |  LEFT JOIN (SELECT cid, list(m ORDER BY dim) AS v FROM m1
        |    GROUP BY cid) mm USING (cid)),
        |d2 AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.v)),
        |      i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i]))) AS d
        |  FROM e CROSS JOIN c1 c),
        |a2 AS (SELECT vec_id, cid, d FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM d2)
        |  WHERE rk = 1)
        |SELECT vec_id, cluster FROM (
        |  SELECT vec_id, CAST(cid AS INTEGER) AS cluster,
        |    row_number() OVER (PARTITION BY cid ORDER BY
        |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
        |      vec_id) AS rk
        |  FROM a2) t
        |WHERE rk <= 30""".stripMargin,
    // identical clips from quantile_disc (exact regime), LEAST/GREATEST
    // clamp — NULL values pass through in both engines
    "q178_winsorize" ->
      """WITH f AS (SELECT event_type,
        |    quantile_disc(value, 0.01) AS lo_clip,
        |    quantile_disc(value, 0.99) AS hi_clip
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, f.lo_clip, f.hi_clip,
        |  CASE WHEN e.value IS NULL THEN NULL
        |    ELSE LEAST(GREATEST(e.value, f.lo_clip), f.hi_clip)
        |  END AS winsorized
        |FROM events e JOIN f USING (event_type)""".stripMargin,
    // identical medians from quantile_disc (both sketch passes exact),
    // identical double formula; zero MAD scores NULL in both engines
    "q175_robust_zscore" ->
      """WITH m AS (SELECT event_type,
        |    quantile_disc(value, 0.5) AS median FROM events GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.value, m.median,
        |    ABS(e.value - m.median) AS ad
        |  FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_disc(ad, 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value, d.median, md.mad,
        |  CASE WHEN d.value IS NULL OR md.mad = 0 THEN NULL
        |    ELSE (d.value - d.median) / (md.mad * CAST(1.4826 AS DOUBLE))
        |  END AS robust_z
        |FROM d JOIN md USING (event_type)""".stripMargin,
    // identical fences from quantile_disc (the sketch is exact here),
    // identical double formula with the binary-exact 1.5 factor
    "q163_robust_outliers" ->
      """WITH f AS (SELECT event_type,
        |    quantile_disc(value, 0.25) AS q1,
        |    quantile_disc(value, 0.75) AS q3
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  f.q1 - 1.5 * (f.q3 - f.q1) AS lo_fence,
        |  f.q3 + 1.5 * (f.q3 - f.q1) AS hi_fence
        |FROM events e JOIN f USING (event_type)
        |WHERE e.value < f.q1 - 1.5 * (f.q3 - f.q1)
        |   OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)""".stripMargin,
    // the same run collapse in SQL: change flags via lag over the
    // user timeline, run starts kept, valid_to = next run's first version
    "q162_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL),
        |flag AS (SELECT user_id, event_id, event_type,
        |  (lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |     IS DISTINCT FROM event_type)
        |  OR lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |     IS NULL AS chg
        |  FROM e),
        |starts AS (SELECT user_id, event_id, event_type FROM flag WHERE chg)
        |SELECT user_id, event_type, event_id AS valid_from,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS valid_to
        |FROM starts""".stripMargin,
    // brute force over the distinct dictionary: the blocked plan's recall
    // is exactly 1, so the quadratic oracle reproduces it verbatim
    "q161_edit_distance_pairs" ->
      """WITH names AS (SELECT DISTINCT p_name AS s FROM part
        |  WHERE p_name IS NOT NULL AND len(p_name) > 0)
        |SELECT a.s AS name_a, b.s AS name_b,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM names a JOIN names b ON a.s < b.s
        |WHERE levenshtein(a.s, b.s) <= 2""".stripMargin,
    // the identical inverted-index BM25 in SQL: same canonical
    // tokenization, same binary-exact constants, same quantize-then-sum
    "q159_bm25_topk" ->
      """WITH dtok AS (
        |  SELECT doc_id, t.token FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) t WHERE len(t.token) > 0),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM dtok GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |  FROM dtok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dl) AS BIGINT) AS total FROM dlen),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |q(query_id, qtext) AS (VALUES (CAST(1 AS BIGINT), 'fast hash join'),
        |  (CAST(2 AS BIGINT), 'slow table scan'),
        |  (CAST(3 AS BIGINT), 'stream window agg')),
        |qt AS (SELECT DISTINCT query_id, token FROM (
        |  SELECT query_id,
        |    unnest(string_split_regex(trim(lower(qtext)), '\s+')) AS token
        |  FROM q) x WHERE len(token) > 0),
        |contrib AS (SELECT qt.query_id, tf.doc_id,
        |  CAST(round(ln(1.0 + (CAST(stats.n AS DOUBLE)
        |        - CAST(dfreq.df AS DOUBLE) + 0.5)
        |      / (CAST(dfreq.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * 2.25)
        |    / (CAST(tf.tf AS DOUBLE) + 1.25 * (0.25
        |        + 0.75 * CAST(dlen.dl AS DOUBLE)
        |        * CAST(stats.n AS DOUBLE) / CAST(stats.total AS DOUBLE)))
        |    * 1e6, 0) AS BIGINT) AS c
        |  FROM qt JOIN tf USING (token) JOIN dfreq USING (token)
        |    JOIN dlen ON tf.doc_id = dlen.doc_id, stats),
        |scored AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT)
        |  AS score_e6 FROM contrib GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, score_e6,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank FROM scored)
        |SELECT query_id, doc_id, score_e6, rank FROM ranked
        |WHERE rank <= 5""".stripMargin,
    // same edges via quantile_disc (the sketch is exact here), same
    // first-edge-at-or-above bin rule
    "q158_equi_depth_bins" ->
      """WITH e AS (SELECT quantile_disc(n_chars, 0.25) AS e1,
        |    quantile_disc(n_chars, 0.5) AS e2,
        |    quantile_disc(n_chars, 0.75) AS e3 FROM documents)
        |SELECT CAST(CASE WHEN n_chars <= e.e1 THEN 0
        |    WHEN n_chars <= e.e2 THEN 1
        |    WHEN n_chars <= e.e3 THEN 2 ELSE 3 END AS INTEGER) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents, e GROUP BY 1""".stripMargin,
    // the rolled-up sketch is exact here (fine sketches exact, merged
    // buffers under k), so per-lang quantiles are plain quantile_disc
    // over the raw column and err_units pins 0
    "q156_kll_rollup" ->
      """SELECT lang, CAST(count(n_chars) AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS err_units,
        |  CAST(quantile_disc(n_chars, 0.25) AS DOUBLE) AS p25,
        |  CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS p50,
        |  CAST(quantile_disc(n_chars, 0.75) AS DOUBLE) AS p75
        |FROM documents GROUP BY 1""".stripMargin,
    // cumulative per-prefix rank-ceil quantiles: for every day window,
    // the quantiles of everything through that day — independent
    // formulation (day-prefix join + quantile_disc) vs the engine's
    // running union of released sketch bytes
    "q174_streaming_quantile_rollup" ->
      """WITH vals AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, value
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |days AS (SELECT DISTINCT ws FROM vals),
        |cum AS (SELECT d.ws, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    quantile_disc(v.value, 0.25) AS v25,
        |    quantile_disc(v.value, 0.5) AS v50,
        |    quantile_disc(v.value, 0.75) AS v75
        |  FROM days d JOIN vals v ON v.ws <= d.ws GROUP BY d.ws),
        |cn AS (SELECT ws, n_rows, v25, v50, v75,
        |    CAST(ROW_NUMBER() OVER (ORDER BY ws) AS INTEGER) AS n_windows
        |  FROM cum)
        |SELECT ws AS window_start, ws + INTERVAL 1 DAY AS window_end,
        |  n_windows, n_rows, CAST(0 AS BIGINT) AS err_units,
        |  CAST(p.p AS DOUBLE) AS percentile,
        |  CASE p.p WHEN 0.25 THEN v25 WHEN 0.5 THEN v50 ELSE v75 END
        |    AS "value"
        |FROM cn, (VALUES (0.25), (0.5), (0.75)) p(p)""".stripMargin,
    // the batch-equivalent range join: view in [click - 1h, click],
    // same user, null users never match
    "q180_streaming_interval_join" ->
      """SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
        |FROM events c JOIN events v ON v.user_id = c.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts >= c.ts - INTERVAL 1 HOUR AND v.ts <= c.ts""".stripMargin,
    // exact-regime KMV: the cumulative estimate IS the distinct count;
    // independent day-prefix COUNT(DISTINCT) formulation
    "q177_cumulative_distinct" ->
      """WITH ev AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, user_id
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |days AS (SELECT DISTINCT ws FROM ev)
        |SELECT d.ws AS window_start, d.ws + INTERVAL 1 DAY AS window_end,
        |  CAST(ROW_NUMBER() OVER (ORDER BY d.ws) AS INTEGER) AS n_windows,
        |  CAST(COUNT(DISTINCT e.user_id) AS DOUBLE) AS n_distinct
        |FROM days d JOIN ev e ON e.ws <= d.ws
        |GROUP BY d.ws""".stripMargin,
    // the stream's exact regime: every released value is the rank-ceil
    // order statistic of all values streamed for the key
    "q157_streaming_quantiles" ->
      """SELECT event_type, CAST(count(value) AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS err_units,
        |  quantile_disc(value, 0.25) AS p25,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.75) AS p75
        |FROM events GROUP BY 1""".stripMargin,
    // the sketch's rank-ceil discrete quantile IS quantile_disc, and the
    // exact regime (err_units = 0, pinned as a literal) retains every
    // value — so the oracle is plain SQL over the same slice
    "q154_kll_exact_regime" ->
      """SELECT event_type, CAST(count(value) AS BIGINT) AS n_rows,
        |  min(value) AS vmin, max(value) AS vmax,
        |  CAST(0 AS BIGINT) AS err_units,
        |  quantile_disc(value, 0.25) AS p25,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.75) AS p75
        |FROM events WHERE event_id % 7 = 0 GROUP BY 1""".stripMargin,
    // the certificate booleans are theorems of the errUnits ledger (one
    // weight-w charge per compaction bounds the rank slack), so the
    // oracle pins them TRUE alongside the real n
    "q155_kll_certificate" ->
      """WITH n AS (SELECT CAST(count(value) AS BIGINT) AS n FROM events)
        |SELECT CAST(0.1 AS DOUBLE) AS p, n.n AS n, TRUE AS within_bound,
        |  TRUE AS estimator_regime, TRUE AS bounded FROM n
        |UNION ALL SELECT CAST(0.5 AS DOUBLE), n.n, TRUE, TRUE, TRUE FROM n
        |UNION ALL SELECT CAST(0.9 AS DOUBLE), n.n, TRUE, TRUE, TRUE
        |FROM n""".stripMargin,
    // per-row rule tags in rule order (concat_ws skips the NULL CASE
    // arms in both engines); uniqueness via a key-partitioned count
    // window, FK via NOT EXISTS — names match the operator's generated
    // rule strings exactly
    "q152_quality_quarantine" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 97 = 0
        |),
        |tagged AS (
        |  SELECT doc_id, lang, n_chars, concat_ws(',',
        |    CASE WHEN lang IS NULL THEN 'not_null(lang)' END,
        |    CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 400
        |      THEN 'in_range(n_chars, 1.0, 400.0)' END,
        |    CASE WHEN lang IS NULL OR lang NOT IN ('en','de','fr')
        |      THEN 'in_set(lang)' END,
        |    CASE WHEN count(*) OVER (PARTITION BY doc_id) > 1
        |      THEN 'unique(doc_id)' END,
        |    CASE WHEN doc_id IS NOT NULL AND NOT EXISTS
        |      (SELECT 1 FROM embeddings e
        |       WHERE e.vec_id % 5 <> 0 AND e.vec_id = doc_id)
        |      THEN 'foreign_key(doc_id -> embeddings)' END) AS rules_str
        |  FROM docs
        |)
        |SELECT doc_id, lang, n_chars, rules_str FROM tagged
        |WHERE rules_str <> ''""".stripMargin,
    // q139's unrolled recurrence with the weighted contribution
    // (r * w) // sum-of-out-weights; weights are lineitem counts
    "q153_weighted_pagerank" ->
      """WITH pairs AS (SELECT
        |    'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |e AS (SELECT c AS src, s AS dst, w FROM pairs
        |  UNION ALL SELECT s, c, w FROM pairs),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY 1),
        |b AS (SELECT 1000000000000 // count(*) AS base FROM n),
        |r0 AS (SELECT node, (SELECT base FROM b) AS r FROM n),
        |c1 AS (SELECT e.dst AS node, sum((r0.r * e.w) // deg.deg) AS s FROM e
        |  JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT n.node, (15 * (SELECT base FROM b)) // 100
        |    + (85 * coalesce(c1.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum((r1.r * e.w) // deg.deg) AS s FROM e
        |  JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT n.node, (15 * (SELECT base FROM b)) // 100
        |    + (85 * coalesce(c2.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum((r2.r * e.w) // deg.deg) AS s FROM e
        |  JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r3 AS (SELECT n.node, (15 * (SELECT base FROM b)) // 100
        |    + (85 * coalesce(c3.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c3 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
        |ORDER BY r DESC, node LIMIT 20""".stripMargin,
    // each rule's count as plain SQL, unioned in rule order; names match
    // the operator's generated rule strings exactly
    "q150_data_quality" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem)
        |SELECT 'not_null(l_shipdate)' AS rule, n.n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_shipdate IS NULL) AS n_violations,
        |  (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL) = 0 AS pass
        |FROM n
        |UNION ALL SELECT 'in_range(l_quantity, 1.0, 50.0)', n.n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50),
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) = 0
        |FROM n
        |UNION ALL SELECT 'in_range(l_quantity, 1.0, 25.0)', n.n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 25),
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 25) = 0
        |FROM n
        |UNION ALL SELECT 'in_set(l_returnflag)', n.n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')),
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_returnflag IS NULL
        |     OR l_returnflag NOT IN ('A','N','R')) = 0
        |FROM n
        |UNION ALL SELECT 'matches_regex(l_linestatus)', n.n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_linestatus IS NULL
        |     OR NOT regexp_full_match(l_linestatus, '(?:[A-Z])')),
        |  (SELECT count(*) FROM lineitem
        |   WHERE l_linestatus IS NULL
        |     OR NOT regexp_full_match(l_linestatus, '(?:[A-Z])')) = 0
        |FROM n
        |UNION ALL SELECT 'unique(l_orderkey, l_linenumber)', n.n_rows,
        |  (SELECT CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |    AS BIGINT) FROM lineitem),
        |  (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |    FROM lineitem) = 0
        |FROM n
        |UNION ALL SELECT 'foreign_key(l_orderkey -> orders)', n.n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |  (SELECT count(*) FROM lineitem l
        |   WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
        |FROM n""".stripMargin,
    // pair counts over the distinct (order, supplier) incidence list
    "q149_bipartite_projection" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o,
        |    's' || CAST(l_suppkey AS VARCHAR) AS p FROM lineitem)
        |SELECT x.p AS u, y.p AS v, CAST(count(*) AS BIGINT) AS n_shared
        |FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
    // q139's unrolled integer recurrence with a per-node base: scale //
    // |seeds in graph| on seeds, 0 elsewhere
    "q148_personalized_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT
        |    'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s, c FROM pairs),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |seeds0 AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
        |  FROM supplier
        |  WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)),
        |seeds AS (SELECT node FROM seeds0
        |  WHERE node IN (SELECT node FROM n)),
        |bs AS (SELECT 1000000000000 // count(*) AS base FROM seeds),
        |nb AS (SELECT n.node, CASE WHEN s.node IS NOT NULL
        |    THEN (SELECT base FROM bs) ELSE 0 END AS base
        |  FROM n LEFT JOIN seeds s USING (node)),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, base AS r FROM nb),
        |c1 AS (SELECT e.dst AS node, sum(r0.r // deg.deg) AS s FROM e
        |  JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT nb.node, (15 * nb.base) // 100
        |    + (85 * coalesce(c1.s, 0)) // 100 AS r
        |  FROM nb LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(r1.r // deg.deg) AS s FROM e
        |  JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT nb.node, (15 * nb.base) // 100
        |    + (85 * coalesce(c2.s, 0)) // 100 AS r
        |  FROM nb LEFT JOIN c2 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r2
        |ORDER BY r DESC, node LIMIT 20""".stripMargin,
    // the oracle counts triangles independently of the engine's
    // orientation trick: canonical string-ordered 3-way self-join over
    // the undirected pair set
    "q146_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey % 7 = 0),
        |e0 AS (SELECT DISTINCT 's' || CAST(a.l_suppkey AS VARCHAR) AS u,
        |    's' || CAST(b.l_suppkey AS VARCHAR) AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM e0),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY 1""".stripMargin,
    // the identical deterministic v2 construction + one full outer join
    "q147_snapshot_diff" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        |a1 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |      THEN text || ' [v2]' ELSE text END AS text
        |  FROM b WHERE doc_id % 11 <> 0),
        |a2 AS (SELECT doc_id + 10000000 AS doc_id, 'new doc' AS text
        |  FROM b WHERE doc_id % 13 = 0),
        |a AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2),
        |j AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |    CASE WHEN b.doc_id IS NULL THEN 'added'
        |      WHEN a.doc_id IS NULL THEN 'removed'
        |      WHEN b.text IS DISTINCT FROM a.text THEN 'changed'
        |      ELSE 'unchanged' END AS change_type
        |  FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, change_type FROM j
        |WHERE change_type <> 'unchanged'""".stripMargin,
    // q130's staged funnel CTEs: the streaming recurrence must land on
    // the identical counts
    "q143_streaming_funnel" ->
      """WITH s1 AS (SELECT user_id, min(event_id) AS t FROM events
        |    WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.event_id) AS t FROM events e
        |    JOIN s1 USING (user_id)
        |    WHERE e.event_type = 'click' AND e.event_id > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.event_id) AS t FROM events e
        |    JOIN s2 USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.event_id > s2.t GROUP BY 1)
        |SELECT 1 AS step, 'view' AS step_name,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_entities
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase',
        |  CAST((SELECT count(*) FROM s3) AS BIGINT)""".stripMargin,
    // generate_series fills the grid; absent buckets coalesce to 0
    "q144_zero_fill_series" ->
      """WITH c AS (SELECT CAST((event_id // 600) * 600 AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c)
        |SELECT g.bucket, coalesce(c.n_purchases, 0) AS n_purchases
        |FROM (SELECT unnest(generate_series((SELECT lo FROM b),
        |    (SELECT hi FROM b), 600)) AS bucket) g
        |LEFT JOIN c USING (bucket)""".stripMargin,
    // the same RANGE frame; count/min/max are evaluation-order-free
    "q145_rolling_window_stats" ->
      """SELECT event_id, user_id, value,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  min(value) OVER w AS min_window,
        |  max(value) OVER w AS max_window
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)""".stripMargin,
    // the recursive CTE explores (node, dist<=4) pairs with UNION
    // dedup; min(dist) per node IS the BFS level
    "q141_bfs_distances" ->
      """WITH RECURSIVE pairs AS (SELECT DISTINCT
        |    'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s, c FROM pairs),
        |seeds AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
        |  FROM supplier
        |  WHERE s_nationkey = (SELECT min(s_nationkey) FROM supplier)),
        |walk(node, dist) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.dist < 4)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1""".stripMargin,
    // the same lag/cumsum sessionization as q69, paths via ordered
    // string_agg; event_id is unique so the order is total
    "q142_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL),
        |s AS (SELECT *, CASE WHEN lag(event_id) OVER w IS NULL
        |      OR event_id - lag(event_id) OVER w > 600 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |t AS (SELECT *, sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY event_id) AS sid FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |    ORDER BY event_id) AS rn FROM t),
        |p AS (SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY event_id)
        |      FILTER (rn <= 64) AS path0,
        |    count(*) AS n FROM r GROUP BY 1, 2),
        |f AS (SELECT CASE WHEN n > 64 THEN path0 || '>...' ELSE path0 END
        |    AS path FROM p)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM f GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // brute-force all-pairs containment over normalized token joins —
    // the oracle can afford O(n^2) at sf0.01; the engine may not, and
    // takes the winnowing-candidate path to the same rows. The a.ntok >=
    // 8 floor mirrors the operator's w+k-1 recall contract
    "q138_containment_dedup" ->
      """WITH raw AS (SELECT CAST(doc_id AS VARCHAR) AS id,
        |    array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')
        |      AS norm,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS ntok
        |  FROM documents),
        |snip AS (SELECT 's' || CAST(doc_id AS VARCHAR) AS id,
        |    array_to_string(string_split_regex(trim(lower(text)),
        |      '\s+')[1:10], ' ') AS norm,
        |    10 AS ntok
        |  FROM documents
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 15),
        |u AS (SELECT * FROM raw UNION ALL SELECT * FROM snip)
        |SELECT a.id AS contained_id, b.id AS container_id
        |FROM u a JOIN u b ON a.id <> b.id AND a.ntok >= 8
        |  AND (a.ntok < b.ntok OR (a.ntok = b.ntok AND a.id > b.id))
        |  AND contains(' ' || b.norm || ' ', ' ' || a.norm || ' ')""".stripMargin,
    // the identical integer recurrence unrolled: r0 = base = scale//N,
    // contribution = r//deg, r' = (15*base)//100 + (85*sum)//100 — every
    // op is integer division or integer sum, so ranks match bit for bit
    // the identical synchronous recurrence unrolled: per round, each
    // node takes its neighbors' most frequent PREVIOUS label, ties to
    // the smallest label via the (count DESC, label) row_number
    "q179_label_propagation" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o,
        |    's' || CAST(l_suppkey AS VARCHAR) AS sn FROM lineitem),
        |p AS (SELECT DISTINCT a.sn AS x, b.sn AS y FROM li a JOIN li b
        |  ON a.o = b.o AND a.sn < b.sn),
        |e AS (SELECT x AS v, y AS nb FROM p UNION SELECT y, x FROM p),
        |l0 AS (SELECT DISTINCT v, v AS lab FROM e),
        |c1 AS (SELECT e.v, l.lab, COUNT(*) AS c FROM e
        |  JOIN l0 l ON l.v = e.nb GROUP BY e.v, l.lab),
        |l1 AS (SELECT v, lab FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY v ORDER BY c DESC, lab) AS rk FROM c1)
        |  WHERE rk = 1),
        |c2 AS (SELECT e.v, l.lab, COUNT(*) AS c FROM e
        |  JOIN l1 l ON l.v = e.nb GROUP BY e.v, l.lab),
        |l2 AS (SELECT v, lab FROM (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY v ORDER BY c DESC, lab) AS rk FROM c2)
        |  WHERE rk = 1)
        |SELECT v AS node, lab AS label FROM l2""".stripMargin,
    "q139_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT
        |    'c' || CAST(o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l_suppkey AS VARCHAR) AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s, c FROM pairs),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |b AS (SELECT 1000000000000 // count(*) AS base FROM n),
        |r0 AS (SELECT node, (SELECT base FROM b) AS r FROM n),
        |c1 AS (SELECT e.dst AS node, sum(r0.r // deg.deg) AS s FROM e
        |  JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT n.node, (15 * (SELECT base FROM b)) // 100
        |    + (85 * coalesce(c1.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(r1.r // deg.deg) AS s FROM e
        |  JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT n.node, (15 * (SELECT base FROM b)) // 100
        |    + (85 * coalesce(c2.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(r2.r // deg.deg) AS s FROM e
        |  JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src GROUP BY 1),
        |r3 AS (SELECT n.node, (15 * (SELECT base FROM b)) // 100
        |    + (85 * coalesce(c3.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c3 USING (node))
        |SELECT node, CAST(r AS BIGINT) AS rank_fp FROM r3
        |ORDER BY r DESC, node LIMIT 20""".stripMargin,
    // SQL NTILE over the same total order; the engine's two-phase rank
    // must reproduce the buckets exactly
    "q140_global_ntile" ->
      """SELECT CAST(ntile AS BIGINT) AS ntile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(len) AS min_len, max(len) AS max_len,
        |  CAST(sum(len) AS BIGINT) AS sum_len
        |FROM (SELECT ntile(4) OVER (ORDER BY length(text) DESC, doc_id)
        |      AS ntile,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents)
        |GROUP BY 1""".stripMargin,
    // q126's shingle CTE grouped by lang; the estimate and rollup
    // contracts are deterministic (seedless xxhash64) and oracled TRUE
    "q137_kmv_estimator_regime" ->
      """WITH t AS (SELECT lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh AS (SELECT lang, unnest(CASE WHEN len(toks) < 3
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) END) AS g FROM t)
        |SELECT lang, CAST(count(DISTINCT g) AS BIGINT) AS n_shingles,
        |  TRUE AS est_within_4sigma, TRUE AS rollup_exact
        |FROM sh GROUP BY 1""".stripMargin,
    "q126_kmv_overlap" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id % 2 = 0 AS even, unnest(CASE WHEN len(toks) < 3
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) END) AS g FROM t)
        |SELECT CAST(count(DISTINCT g) FILTER (even) AS BIGINT) AS n_even,
        |  CAST(count(DISTINCT g) FILTER (NOT even) AS BIGINT) AS n_odd,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_union,
        |  CAST(count(DISTINCT g) FILTER (even)
        |    + count(DISTINCT g) FILTER (NOT even)
        |    - count(DISTINCT g) AS BIGINT) AS n_intersection
        |FROM sh""".stripMargin,
    // ground truth without closure: every user's chain is one component
    // labeled by the user's min event_id; vertices exist only where edges
    // do, so single-event users are absent
    "q125_connected_components" ->
      """WITH u AS (SELECT user_id, CAST(min(event_id) AS BIGINT) AS c,
        |    count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT CAST(e.event_id AS BIGINT) AS id, u.c AS component
        |FROM events e JOIN u USING (user_id) WHERE u.n >= 2""".stripMargin,
    // both engines use the index = p*(n-1) interpolated definition
    // (Spark percentile == DuckDB quantile_cont); quantities are
    // integer-valued so the interpolations are exact small fractions
    "q124_numeric_profile" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(l_quantity) AS BIGINT) AS n_rows,
        |  min(l_quantity) AS vmin, max(l_quantity) AS vmax,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    // same shingling convention as q77: distinct grams per doc, short docs
    // contribute their whole text as one gram
    "q84_boilerplate_ngrams" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks)),
        |      i -> array_to_string(toks[i:i+1], ' '))) END) AS gram FROM t)
        |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM s GROUP BY 1 HAVING count(DISTINCT doc_id) >= 20""".stripMargin,
    // the oracle finds boilerplate by line STRING census (the engine's
    // 64-bit line hash stays internal), then filters each doc's line list —
    // identical semantics absent a 64-bit collision in the test corpus
    "q89_strip_boilerplate" ->
      """WITH docs2 AS (SELECT doc_id,
        |    concat_ws(chr(10), '== ' || source || ' header ==', text,
        |      '-- ' || lang || ' footer --') AS text
        |  FROM documents),
        |l AS (SELECT DISTINCT doc_id, trim(u.l) AS line
        |  FROM docs2, unnest(string_split(text, chr(10))) AS u(l)
        |  WHERE trim(u.l) <> ''),
        |bad AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 5),
        |badl AS (SELECT coalesce(list(line), CAST([] AS VARCHAR[])) AS bl
        |  FROM bad),
        |f AS (SELECT doc_id, string_split(text, chr(10)) AS ls,
        |    list_filter(string_split(text, chr(10)),
        |      x -> trim(x) = '' OR NOT list_contains(bl, trim(x))) AS kept
        |  FROM docs2, badl)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed
        |FROM f""".stripMargin,
    // whole-copy counts and fractional-copy cutoffs are computed by the
    // same Scala arithmetic the engine uses, then inlined as literals —
    // assignment is pure md5 arithmetic in both engines (q74's pattern)
    "q90_mixture_upsample" -> {
      def cut(w: Double): Long = graft.pipeline.Sampling.threshold(w - math.floor(w))
      s"""WITH h AS (SELECT doc_id, lang,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
         |  FROM documents),
         |c AS (SELECT doc_id, lang,
         |    CASE lang
         |      WHEN 'de' THEN 2 + CASE WHEN hv < ${cut(2.5)} THEN 1 ELSE 0 END
         |      WHEN 'es' THEN 0 + CASE WHEN hv < ${cut(0.5)} THEN 1 ELSE 0 END
         |      WHEN 'fr' THEN 0
         |      WHEN 'zh' THEN 3 + CASE WHEN hv < ${cut(3.0)} THEN 1 ELSE 0 END
         |      ELSE 1 END AS n FROM h)
         |SELECT doc_id, lang, CAST(u.copy AS BIGINT) AS copy
         |FROM c, unnest(range(1, n + 1)) AS u(copy)""".stripMargin
    },
    // integer-valued k keeps the sum order-independent; both engines parse
    // the same JSON path
    "q91_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS k_sum,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS k_min,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS k_max
        |FROM events GROUP BY 1""".stripMargin,
    // rank-only: ln() differs across libms in the last ulp, so the score
    // is never released; adjacent-score gaps at the k boundary are
    // measured >= 1.5e-4 relative at all SFs (see FIXTURES.md), far above
    // the ~1e-15 cross-engine float divergence
    // mult/div/floor are exactly-rounded IEEE ops, so the quantized
    // integers are bit-identical across engines (unlike ln-based scores)
    "q88_quantize_int8" ->
      """WITH q AS (SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m,
        |    embedding FROM embeddings),
        |qq AS (SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
        |      ELSE CAST(floor(x::DOUBLE * 127.0 / m + 0.5) AS BIGINT) END) AS qv
        |  FROM q)
        |SELECT vec_id, CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max
        |FROM qq""".stripMargin,
    "q87_tfidf_terms" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE length(token) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS nn FROM documents),
        |scored AS (SELECT doc_id, token, tf, df,
        |    tf * ln(nn::DOUBLE / df::DOUBLE) AS s
        |  FROM tf JOIN dfq USING (token) CROSS JOIN n)
        |SELECT doc_id, rank, token, tf, df FROM (
        |  SELECT doc_id, token, tf, df,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY s DESC, token) AS BIGINT) AS rank
        |  FROM scored) t
        |WHERE rank <= 3""".stripMargin,
    "q85_pack_chunks" ->
      """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
        |  FROM documents),
        |c AS (SELECT doc_id, ntok,
        |    sum(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - ntok
        |      AS start FROM t)
        |SELECT CAST(floor(start / 2048) AS BIGINT) AS chunk_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1""".stripMargin,
    // same cumsum base as q85; slices come from integer chunk-range
    // arithmetic, exact in both engines
    "q92_chunk_slices" ->
      """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
        |  FROM documents),
        |c AS (SELECT doc_id, ntok,
        |    sum(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - ntok
        |      AS start FROM t),
        |s AS (SELECT doc_id, CAST(start AS BIGINT) AS start,
        |    CAST(start + ntok AS BIGINT) AS endt FROM c WHERE ntok > 0)
        |SELECT doc_id, CAST(u.chunk AS BIGINT) AS chunk,
        |  CAST(greatest(start, u.chunk * 256) - u.chunk * 256 AS BIGINT)
        |    AS chunk_offset,
        |  CAST(least(endt, (u.chunk + 1) * 256)
        |    - greatest(start, u.chunk * 256) AS BIGINT) AS slice_len
        |FROM s, unnest(range(start // 256, (endt - 1) // 256 + 1)) AS u(chunk)""".stripMargin,
    // keep-first line dedup: DuckDB's list_distinct does not pin order, so
    // the oracle keeps each line's first ordinal explicitly
    "q93_dedup_lines" ->
      """WITH t AS (SELECT doc_id, string_split(
        |    concat_ws(chr(10), text, '-- footer --', text, '-- footer --'),
        |    chr(10)) AS ls FROM documents),
        |l AS (SELECT doc_id, ls[u.ord] AS line, u.ord AS ord,
        |    row_number() OVER (PARTITION BY doc_id, ls[u.ord]
        |      ORDER BY u.ord) AS rn
        |  FROM t, unnest(range(1, len(ls) + 1)) AS u(ord))
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS text
        |FROM l WHERE rn = 1 GROUP BY doc_id""".stripMargin,
    // window starts at 0, 16, ... up to the last start < n; slices clamp at
    // the tail in both engines (list[a:b] / slice both 1-based)
    "q94_sliding_windows" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS win_idx,
        |  array_to_string(toks[u.i * 16 + 1 : u.i * 16 + 32], ' ') AS wtext
        |FROM t, unnest(range(0, (len(toks) - 1) // 16 + 1)) AS u(i)""".stripMargin,
    // q70's portable rolling-hash arithmetic; boundaries where the 4-gram
    // hash ≡ 0 mod 64, final partial chunk always closes at n
    "q96_cdc_chunks" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |h AS (SELECT doc_id, tk, len(tk) AS n,
        |    list_transform(tk,
        |      t -> ('0x'||substr(md5(t),1,8))::BIGINT % 2147483647) AS th
        |  FROM toks),
        |g AS (SELECT doc_id, tk, n, CASE WHEN n >= 4
        |    THEN list_transform(range(1, n - 2), j ->
        |      ((((((th[j]*131 + th[j+1]) % 2147483647)*131
        |        + th[j+2]) % 2147483647)*131 + th[j+3]) % 2147483647))
        |    ELSE [] END AS gh FROM h),
        |b AS (SELECT doc_id, tk, n,
        |    list_transform(list_filter(range(1, len(gh) + 1),
        |      j -> gh[j] % 64 = 0), j -> j + 3) AS ends0 FROM g),
        |e AS (SELECT doc_id, tk, CASE
        |    WHEN len(ends0) = 0 OR ends0[len(ends0)] < n
        |    THEN list_append(ends0, n) ELSE ends0 END AS ends FROM b)
        |SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS chunk_idx,
        |  CAST(CASE WHEN u.i = 1 THEN 1 ELSE ends[u.i - 1] + 1 END
        |    AS BIGINT) AS chunk_start,
        |  CAST(ends[u.i]
        |    - (CASE WHEN u.i = 1 THEN 1 ELSE ends[u.i - 1] + 1 END) + 1
        |    AS BIGINT) AS chunk_len,
        |  md5(array_to_string(
        |    tk[(CASE WHEN u.i = 1 THEN 1 ELSE ends[u.i - 1] + 1 END)
        |      : ends[u.i]], ' ')) AS chunk_hash
        |FROM e, unnest(range(1, len(ends) + 1)) AS u(i)""".stripMargin,
    // vocab ties at the k boundary break on the token string in both
    // engines (q78's rule); the rate is a ratio of small ints
    "q97_oov_rate" ->
      """WITH tok AS (SELECT doc_id, unnest(
        |    string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |t AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        |v AS (SELECT token AS vtok FROM t GROUP BY token
        |  ORDER BY count(*) DESC, token LIMIT 500)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) - count(v.vtok) AS BIGINT) AS n_oov,
        |  CAST(count(*) - count(v.vtok) AS DOUBLE) / count(*) AS oov_rate
        |FROM t LEFT JOIN v ON t.token = v.vtok
        |GROUP BY 1""".stripMargin,
    // bucket = smallest edge holding the doc; overflow docs report under
    // -1 with zero waste (they are chunk-packed, not padded)
    "q98_padding_profile" ->
      """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok
        |  FROM documents),
        |b AS (SELECT CAST(CASE WHEN ntok <= 16 THEN 16 WHEN ntok <= 64
        |    THEN 64 WHEN ntok <= 256 THEN 256 WHEN ntok <= 1024 THEN 1024
        |    ELSE -1 END AS BIGINT) AS bucket, ntok
        |  FROM t WHERE ntok > 0),
        |a AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens
        |  FROM b GROUP BY 1)
        |SELECT bucket, n_docs, n_tokens,
        |  CAST(CASE WHEN bucket > 0 THEN bucket * n_docs
        |    ELSE n_tokens END AS BIGINT) AS padded,
        |  CAST(CASE WHEN bucket > 0 THEN bucket * n_docs - n_tokens
        |    ELSE 0 END AS BIGINT) AS waste,
        |  CAST(n_tokens AS DOUBLE)
        |    / (CASE WHEN bucket > 0 THEN bucket * n_docs ELSE n_tokens END)
        |    AS fill_rate
        |FROM a""".stripMargin,
    // survivors: rewritten batch docs always, unmodified ones only when
    // their id is absent from history (%4 == 0); fingerprint rule as q41
    "q100_dedup_incremental" ->
      """WITH h AS (SELECT DISTINCT
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents WHERE doc_id % 4 <> 0),
        |b AS (SELECT doc_id, md5(regexp_replace(trim(lower(
        |      CASE WHEN doc_id % 10 = 5 THEN 'v2 ' || text ELSE text END)),
        |    '\s+', ' ', 'g')) AS f
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id FROM b WHERE f NOT IN (SELECT f FROM h)""".stripMargin,
    // same canonical fingerprint rule as q41: md5 over case-folded,
    // whitespace-collapsed text, so formatting-only edits read as kept
    "q99_corpus_diff" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |old AS (SELECT doc_id,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
        |  FROM base WHERE doc_id % 10 <> 0),
        |neu AS (SELECT doc_id, md5(regexp_replace(trim(lower(
        |      CASE WHEN doc_id % 13 = 0 THEN 'REWRITTEN ' || text
        |        WHEN doc_id % 7 = 0 THEN text || '   '
        |        ELSE text END)), '\s+', ' ', 'g')) AS f
        |  FROM base WHERE doc_id % 10 <> 1)
        |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |  CASE WHEN old.doc_id IS NULL THEN 'added'
        |    WHEN neu.doc_id IS NULL THEN 'removed'
        |    WHEN old.f = neu.f THEN 'kept'
        |    ELSE 'changed' END AS status
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id""".stripMargin,
    // q77's shingle base with per-document matched counts; the overlap is a
    // ratio of two small ints, identical in both engines
    "q95_contamination_scores" ->
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 8
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' '))) END) AS g FROM t),
        |b AS (SELECT DISTINCT g AS bg FROM s WHERE doc_id % 100 = 0)
        |SELECT s.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(b.bg) AS BIGINT) AS n_matched,
        |  CAST(count(b.bg) AS DOUBLE) / count(*) AS overlap
        |FROM s LEFT JOIN b ON s.g = b.bg
        |WHERE s.doc_id % 100 <> 0 GROUP BY 1""".stripMargin,
    "q81_stratified_quota" ->
      """SELECT o_orderstatus, o_orderkey FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT,
        |        o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 100""".stripMargin,
    // Gopher repetition flags: both fractions are ratios of small ints, so
    // the doubles (and the > threshold comparisons) reproduce bit-for-bit
    "q72_repetition_signals" ->
      """WITH f AS (SELECT string_split(text, chr(10)) AS l,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT l, CASE WHEN len(toks) < 2 THEN []
        |    ELSE list_transform(range(1, len(toks)),
        |      i -> array_to_string(toks[i:i+1], ' ')) END AS gr FROM f)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN len(l) > 0 AND
        |    (len(l) - len(list_distinct(l)))::DOUBLE / len(l)::DOUBLE > 0.3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
        |  CAST(sum(CASE WHEN len(gr) > 0 AND
        |    (len(gr) - len(list_distinct(gr)))::DOUBLE / len(gr)::DOUBLE > 0.15
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        |FROM g""".stripMargin,
    // same marker-count detection as q56's oracle, without the keyset
    // zero-fill (only languages actually present appear)
    "q49_language_id" ->
      """SELECT CASE
        |    WHEN en > 0 AND en = best THEN 'en'
        |    WHEN de > 0 AND de = best THEN 'de'
        |    WHEN es > 0 AND es = best THEN 'es'
        |    WHEN fr > 0 AND fr = best THEN 'fr'
        |    WHEN zh > 0 AND zh = best THEN 'zh'
        |    ELSE 'und' END AS lang_detected, CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT *, greatest(en, de, es, fr, zh) AS best FROM (
        |    SELECT
        |      len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|in|that|it|for|you|with)\b')) AS en,
        |      len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|nicht|ein|eine|zu|den|von|mit)\b')) AS de,
        |      len(regexp_extract_all(text, '(?i)\b(el|la|los|las|de|que|y|en|un|una|es|por|para)\b')) AS es,
        |      len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|que|des|une|dans|pour|qui|sur)\b')) AS fr,
        |      len(regexp_extract_all(text, '[\p{Han}]')) AS zh
        |    FROM documents))
        |GROUP BY 1""".stripMargin,
    "q50_multimodal_decode" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_decoded,
        |  CAST(sum(1 + doc_id % 16) AS BIGINT) AS width_sum,
        |  CAST(sum(1 + doc_id % 13) AS BIGINT) AS height_sum,
        |  CAST(3 * count(*) AS BIGINT) AS channels_sum,
        |  CAST(count(*) AS BIGINT) AS n_png,
        |  CAST(16 * count(*) AS BIGINT) AS n_features FROM documents""".stripMargin,
    "q51_audio_windows" ->
      """SELECT CAST(4 * count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(octet_length(encode(text)) // 2) AS BIGINT) AS total_samples,
        |  CAST(8 * 4 * count(*) AS BIGINT) AS n_features FROM documents""".stripMargin,
    "q104_image_phash_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS representative_id,
        |  CAST(count(*) AS BIGINT) AS n_images
        |FROM documents WHERE doc_id % 4 = 0 GROUP BY doc_id % 5""".stripMargin,
    "q106_audio_fingerprint_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS representative_id,
        |  CAST(count(*) AS BIGINT) AS n_clips
        |FROM documents GROUP BY doc_id % 5""".stripMargin,
    "q105_video_frame_sample" ->
      """SELECT CAST(sum(least(2, doc_id % 3 + 1)) AS BIGINT) AS n_rows,
        |  CAST(sum((doc_id % 3 + 1) * least(2, doc_id % 3 + 1)) AS BIGINT)
        |    AS frame_count_sum,
        |  CAST(32 * sum(least(2, doc_id % 3 + 1)) AS BIGINT) AS width_sum,
        |  CAST(sum(least(2, doc_id % 3 + 1)) AS BIGINT) AS n_gif
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin,
    "q54_streaming_window_counts" ->
      """SELECT CAST((event_id // 600) * 600 AS BIGINT) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS count
        |FROM events GROUP BY 1, 2""".stripMargin,
    // per-token costs quantize to integer micro-nats BEFORE the document
    // sum (costs >= 0, so DuckDB's half-away rounding agrees with Spark's
    // half-up); the mean is an exact ratio of two BIGINTs
    "q107_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(
        |    string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |t AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
        |u AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM u),
        |cost AS (SELECT token,
        |    CAST(round(ln(tt::DOUBLE / c::DOUBLE) * 1e6) AS BIGINT) AS ce
        |  FROM u CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(ce) AS BIGINT) AS nll_sum_e6,
        |  CAST(sum(ce) AS DOUBLE) / count(*) AS mean_nll_e6
        |FROM t JOIN cost USING (token) GROUP BY 1""".stripMargin,
    // q71's tokenization (trim, no lower); only docs with >= 3 tokens have
    // a 3-gram start; the fraction is an exact ratio of small ints
    "q108_span_duplication" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |    FROM documents WHERE length(trim(text)) > 0),
        |st AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)
        |  WHERE len(toks) >= 3),
        |c AS (SELECT g, count(*) AS n FROM st GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_starts,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_starts,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS dup_fraction
        |FROM st JOIN c USING (g) GROUP BY 1""".stripMargin,
    // exact regime (capacity > distinct keys): the sketch top-k IS the
    // groupBy top-k; rank ties break on the key string in both engines
    "q110_streaming_heavy_hitters" ->
      """SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, event_type)
        |    AS BIGINT) AS rank,
        |  event_type, CAST(count(*) AS BIGINT) AS count
        |FROM events GROUP BY event_type
        |ORDER BY 1 LIMIT 3""".stripMargin,
    // saturation contract: fully-trained BPE on its own corpus segments
    // every seen word as one token, so subword count == word count
    "q117_bpe_saturation" ->
      """SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
        |  AS n_subwords
        |FROM documents""".stripMargin,
    // per-window exact regime (capacity > distinct keys): sketch top-k ==
    // groupBy top-k inside each 600-second window; ties break on the key
    "q116_windowed_heavy_hitters" ->
      """WITH w AS (SELECT CAST((event_id // 600) * 600 AS BIGINT) AS ws,
        |    event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT ws AS window_start,
        |  CAST(rank AS BIGINT) AS rank, event_type, c AS count
        |FROM (SELECT ws, event_type, c,
        |    row_number() OVER (PARTITION BY ws ORDER BY c DESC, event_type)
        |      AS rank FROM w) t
        |WHERE rank <= 2""".stripMargin,
    // DuckDB windowed sum returns HUGEINT — cast; the tree release at
    // eps=inf must equal the exact cumulative series
    "q114_tree_prefix_sums" ->
      """WITH w AS (SELECT CAST(event_id // 600 AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1)
        |SELECT t, CAST(sum(c) OVER (ORDER BY t) AS BIGINT) AS prefix_sum
        |FROM w""".stripMargin,
    // per-key entropy mass quantizes to integer micro-nats BEFORE the sum
    // (q107's rule: costs >= 0, half-up == half-away); released values are
    // BIGINTs and one exact ratio
    "q113_key_skew_report" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |    FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(tt) AS BIGINT) AS n_rows,
        |  CAST(max(c) AS BIGINT) AS max_count,
        |  CAST(sum(c * CAST(round(ln(tt::DOUBLE / c::DOUBLE) * 1e6) AS BIGINT))
        |    AS BIGINT) AS entropy_e6_num,
        |  CAST(sum(c * CAST(round(ln(tt::DOUBLE / c::DOUBLE) * 1e6) AS BIGINT))
        |    AS DOUBLE) / max(tt) AS entropy_e6
        |FROM c CROSS JOIN t""".stripMargin,
    // bit-placement oracle for the Morton projection: column bit i of u
    // lands at 2i, of e at 2i+1; non-overlapping powers make + equal to |
    "q112_zorder_values" ->
      """WITH m AS (SELECT event_id, user_id % 256 AS u, event_id % 256 AS e
        |    FROM events)
        |SELECT event_id, CAST(
        |  ((u >> 0) & 1) * 1 + ((e >> 0) & 1) * 2 +
        |  ((u >> 1) & 1) * 4 + ((e >> 1) & 1) * 8 +
        |  ((u >> 2) & 1) * 16 + ((e >> 2) & 1) * 32 +
        |  ((u >> 3) & 1) * 64 + ((e >> 3) & 1) * 128 +
        |  ((u >> 4) & 1) * 256 + ((e >> 4) & 1) * 512 +
        |  ((u >> 5) & 1) * 1024 + ((e >> 5) & 1) * 2048 +
        |  ((u >> 6) & 1) * 4096 + ((e >> 6) & 1) * 8192 +
        |  ((u >> 7) & 1) * 16384 + ((e >> 7) & 1) * 32768
        |  AS BIGINT) AS zval
        |FROM m""".stripMargin,
    // exact-copy groups of 3: the min-id member claims every band bucket;
    // distinct groups share no tokens, so a cross-group bucket collision
    // needs a 64-bit hash collision (the q40 fingerprint-oracle regime)
    "q111_streaming_neardup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
        |FROM documents GROUP BY doc_id // 3""".stripMargin,
    // ids/booleans-only contract: the nearest intra-cluster cosine to the
    // 0.42 threshold is >= 3e-4 away at every SF (measured), so engine
    // round-off cannot flip a membership decision
    "q109_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings),
        |d AS (SELECT b.vec_id, CAST(count(*) AS BIGINT) AS n_dups_earlier
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |  GROUP BY 1)
        |SELECT e.vec_id, e.label,
        |  coalesce(d.n_dups_earlier, 0) AS n_dups_earlier,
        |  coalesce(d.n_dups_earlier, 0) = 0 AS kept
        |FROM e LEFT JOIN d ON e.vec_id = d.vec_id""".stripMargin)
}
