package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  NumericType, ShortType}

/** The input contract of the pipeline operators, checked on the driver
  * before any Spark job: the columns an operator reads are present, of the
  * type its arithmetic needs, and clear of the names it writes; its
  * `ppmScale`, attribution window and percentile labels are valid. Every
  * guard fails with an
  * `IllegalArgumentException` naming the operator or frame and the column.
  *
  * Reserved names: operators that decorate a USER frame with internal
  * working columns (`__x`) or declared output columns and later drop or
  * return them must call [[free]] first — `withColumn` silently REPLACES
  * an existing column, so an unguarded collision either destroys the
  * user's column (decorate-then-drop) or returns working values under the
  * user's name (decorate-then-keep); both are silent wrong results.
  * Operators whose internals live only on self-contained projections
  * (`df.select(... .as("__x"))` pipelines that never rejoin the user
  * frame) need no guard. The audit table lives in ReservedColumnsSpec,
  * one row per operator.
  */
private[graft] object Inputs {
  /** Every one of `cols` is a column of `df`; `side` names the frame in
    * the message ("input", "edge list", "left side").
    */
  def present(df: DataFrame, side: String, cols: String*): Unit = {
    val have = df.columns.toSet
    cols.foreach(c => require(have.contains(c), s"$side is missing '$c'"))
  }

  /** Every one of `cols` is a long, int, short or byte column: a silent
    * cast would truncate fractional times or amounts, and a timestamp
    * fails gap arithmetic with an analysis error far from the cause.
    * `noun` says what the column is for ("time column", "order column").
    */
  def integral(df: DataFrame, op: String, noun: String, cols: String*): Unit =
    cols.foreach { c =>
      val t = df.schema(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
        s"$op needs an integral $noun, got ${t.simpleString} in '$c' — a " +
          "cast would truncate or null it; convert to integer units (epoch " +
          "time, minor currency, long ids) first")
    }

  /** Every one of `cols` is a numeric column (gaps and dominance are
    * differences and comparisons of numbers).
    */
  def numeric(df: DataFrame, op: String, noun: String, cols: String*): Unit =
    cols.foreach { c =>
      val t = df.schema(c).dataType
      require(t.isInstanceOf[NumericType],
        s"$op needs a numeric $noun, got ${t.simpleString} in '$c' — " +
          "convert timestamps to epoch units first")
    }

  /** The integer parts-per share scale: at least 100 so a share has two
    * digits, at most 1e12 so `n * ppmScale` stays exact in decimal(38,0).
    */
  def ppmScale(scale: Long): Unit =
    require(scale >= 100L && scale <= 1000000000000L,
      s"ppmScale must be in [1e2, 1e12], got $scale")

  /** The attribution window shared by the batch and streaming attribution
    * operators: at least one touch type, the conversion type not among
    * them, and a positive lookback.
    */
  def attribution(touchTypes: Seq[String], convType: String,
      lookback: Long): Unit = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    require(!touchTypes.contains(convType),
      s"conversion type '$convType' cannot also be a touch type")
    require(lookback > 0L, s"lookback must be positive, got $lookback")
  }

  /** The multi-touch credit model: `time_decay` needs a positive half-life
    * with at most 40 half-lives in the lookback (its integer weights are
    * 2^(40-k)); the other models take none.
    */
  def creditModel(model: String, halfLife: Long, lookback: Long): Unit = {
    require(Seq("linear", "position", "time_decay").contains(model),
      s"model must be linear, position or time_decay, got '$model'")
    if (model == "time_decay") {
      require(halfLife > 0L,
        s"time_decay needs a positive halfLife, got $halfLife")
      require(lookback / halfLife <= 40L,
        s"lookback/halfLife = ${lookback / halfLife} exceeds 40 half-lives " +
          "— the integer weight 2^(40-k) would overflow exactness; raise " +
          "halfLife or shorten lookback")
    } else require(halfLife == 0L,
      s"halfLife only applies to time_decay, got $halfLife for '$model'")
  }

  /** Output column names for percentiles: 0.5 → `p50`, 0.995 → `p99_5`.
    * Two percentiles that name the same column are refused.
    */
  def percentileLabels(ps: Seq[Double]): Seq[String] = {
    val labels = ps.map { p =>
      val pct = p * 100
      if (pct == math.rint(pct)) s"p${pct.toLong}"
      else "p" + BigDecimal(pct).underlying.stripTrailingZeros.toPlainString
        .replace('.', '_')
    }
    require(labels.distinct.size == labels.size,
      s"duplicate percentile labels: ${labels.mkString(", ")}")
    labels
  }

  def free(df: DataFrame, op: String, names: String*): Unit =
    free(df.columns.toSeq, op, names: _*)

  /** The same guard over the columns an operator actually reads, not a
    * whole frame: the DP planner's group-by keys and measure, pinned by
    * WorkingColumnsSpec, and the session split's entity, time and order
    * columns.
    */
  def free(columns: Seq[String], op: String, names: String*): Unit =
    names.foreach(n =>
      require(!columns.contains(n),
        s"$op: input uses reserved column name '$n'; rename it first"))
}
