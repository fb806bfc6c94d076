package graft.compile

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.budget.Rat
import graft.constraints._
import graft.ir.QueryExpr._
import graft.ir.{CatalogSchemas, TransformExpr}
import graft.types.{ColumnType, CoerceSchema, TableSchema}

/** Result of compiling a transformation chain: the Spark plan, output
  * schema, the table metric after the chain (d_in already folded in), and
  * the propagated constraints.
  */
final case class TransformOut(
    df: DataFrame,
    schema: TableSchema,
    metric: Metric,
    constraints: Seq[Constraint])

/** Lowers `TransformExpr` trees to DataFrame plans, tracking stability and
  * constraint propagation (reference:
  * _query_expr_compiler/_base_transformation_visitor.py and
  * _constraint_propagation.py). All per-row ops stay declarative so Catalyst
  * keeps pushdown / pruning / whole-stage codegen; only `map`/`flatMap`
  * lambdas leave codegen, matching the reference's UDF semantics but running
  * JVM-native instead of crossing into Python workers.
  */
final class TransformPlanner(catalog: Catalog, spark: SparkSession) {

  private val cat: CatalogSchemas = catalog.schemas

  /** Deterministic row hash for order-independent truncation (reference
    * promises order-independence: truncation_strategy.py:42-44).
    */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.map(col).toIndexedSeq: _*)

  def compile(expr: TransformExpr): TransformOut = expr match {

    case PrivateSource(id) =>
      val t = catalog.privateTables(id)
      TransformOut(t.df, expr.schema(cat), t.metric, t.constraints)

    case e @ Rename(child, mapping) =>
      val c = compile(child)
      // a single atomic projection, not withColumnsRenamed: sequential
      // renames corrupt swap mappings like {a->b, b->a}
      val renamed = c.df.select(c.df.columns.map(n =>
        col(n).as(mapping.getOrElse(n, n))).toIndexedSeq: _*)
      // the L2 credit follows its grouping column through the rename
      val metric = c.metric match {
        case RowsMetric(d, Some((gc, v))) =>
          RowsMetric(d, Some(mapping.getOrElse(gc, gc) -> v))
        case m => m
      }
      TransformOut(renamed, e.schema(cat), metric,
        Constraint.rename(c.constraints, mapping))

    case e @ Filter(child, cond) =>
      val c = compile(child)
      TransformOut(c.df.filter(cond), e.schema(cat), c.metric, c.constraints)

    case e @ Select(child, cols) =>
      child match {
        // A Select directly above a map/flatMap fuses into it: the opaque
        // lambda blocks Catalyst's column pruning, so narrow the serialized
        // output struct here — the lambda still sees every input column,
        // but only the selected fields are built and encoded per row.
        case m @ (_: MapRows | _: FlatMapRows) =>
          val out = compileMapLike(m, keep = Some(cols))
          TransformOut(out.df.select(cols.map(col).toIndexedSeq: _*),
            e.schema(cat), stripL2IfLost(out.metric, cols),
            Constraint.select(out.constraints, cols))
        case _ =>
          val c = compile(child)
          TransformOut(c.df.select(cols.map(col).toIndexedSeq: _*), e.schema(cat),
            stripL2IfLost(c.metric, cols), Constraint.select(c.constraints, cols))
      }

    case e: MapRows     => compileMapLike(e, keep = None)
    case e: FlatMapRows => compileMapLike(e, keep = None)

    case e @ FlatMapByID(child, f, _) =>
      val c = compile(child)
      val idCol = c.schema.idColumn.getOrElse(
        throw new IllegalArgumentException("flat_map_by_id requires an IDs table"))
      val inStruct = c.schema.toStructType
      val outSchema = e.schema(cat)
      val outStruct = outSchema.toStructType
      val inCodec = new RowCodec.StructCodec(inStruct)
      val outCodec = new RowCodec.StructCodec(outStruct)
      val idIdx = inStruct.fieldIndex(idCol)
      val grouped = c.df.groupByKey(r => String.valueOf(r.get(idIdx)))(Encoders.STRING)
      val df = grouped.flatMapGroups { (_: String, it: Iterator[Row]) =>
        val rows = it.toVector
        val idValue = rows.head.get(idIdx)
        f(rows.map(inCodec.view)).map { out =>
          outCodec.buildRow(out + (idCol -> idValue), None)
        }
      }(Encoders.row(outStruct))
      // per-ID output is arbitrary, so all row-level constraints die
      // (reference _base_transformation_visitor.py:768-776)
      TransformOut(df, outSchema, c.metric, Nil)

    case e @ BinColumn(child, column, spec, name) =>
      val c = compile(child)
      // binning onto the credit's own column coarsens its groups in place
      TransformOut(c.df.withColumn(name, spec.toColumn(col(column))),
        e.schema(cat), stripL2IfRewritten(c.metric, Seq(name)), c.constraints)

    case e @ JoinPublic(child, public, joinColumns, how) =>
      val c = compile(child)
      val pubRaw = public match {
        case Left(id)  => catalog.publicTables(id)
        case Right(df) => CoerceSchema(df)
      }
      val rSchema = e.publicSchema(cat)
      val joinCols = resolveJoinCols(c.schema, rSchema, joinColumns)
      // fan-out stability = max multiplicity of the join keys in the public
      // table, measured on the actual data
      // (reference _constraint_propagation.py:199-210)
      val stats = pubRaw.groupBy(joinCols.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as("__n")).agg(max("__n")).head()
      val fanout = if (stats.isNullAt(0)) 0L else stats.getLong(0)
      // broadcast by estimated BYTES, not rows: a wide 4M-row public table
      // can blow the driver/executor broadcast limit even when a narrow one
      // fits. Catalyst's own size estimate (logical plan stats) accounts for
      // column widths; above the threshold leave the choice to AQE, which
      // sees real post-shuffle sizes.
      val pubBytes = pubRaw.queryExecution.optimizedPlan.stats.sizeInBytes
      val pub = if (pubBytes <= BigInt(64L << 20)) broadcast(pubRaw) else pubRaw
      val joined = joinFrames(c.df, pub, c.schema, rSchema, joinCols, how)
      val metric = c.metric match {
        case RowsMetric(d, _) =>
          // a join duplicates rows per key, destroying the per-group change
          // structure the L2 credit relies on — conservative: drop it
          RowsMetric(d * Rat(math.max(fanout, 0L)))
        case m: IDsMetric => m
      }
      TransformOut(joined, e.schema(cat), metric,
        Constraint.scaleByFanout(c.constraints, fanout))

    case e @ JoinPrivate(left, right, truncL, truncR, joinColumns) =>
      val l = compile(left)
      val r = compile(right)
      val joinCols = resolveJoinCols(l.schema, r.schema, joinColumns)
      (l.metric, r.metric) match {
        case (RowsMetric(dl, _), RowsMetric(dr, _)) =>
          // the joined change vector has no per-group structure: L2 credit
          // does not survive a rows join
          val (tl, tr) = (truncL.get, truncR.get)
          val ld = truncate(l.df, joinCols, tl)
          val rd = truncate(r.df, joinCols, tr)
          val joined = joinFrames(ld, rd, l.schema, r.schema, joinCols, "inner")
          // adding a row on one side changes up to stabilityFactor truncated
          // rows, each matching up to the other side's per-key row cap
          // (reference truncation_strategy.py:17-31)
          val d = Rat(tl.stabilityFactor) * Rat(tr.maxRows) * dl +
            Rat(tr.stabilityFactor) * Rat(tl.maxRows) * dr
          TransformOut(joined, e.schema(cat), RowsMetric(d), Nil)
        case (lm: IDsMetric, rm: IDsMetric) =>
          require(lm.idSpace == rm.idSpace,
            s"private join requires both tables in the same id space, got " +
              s"'${lm.idSpace}' and '${rm.idSpace}'")
          require(lm.idColumn == rm.idColumn,
            s"private join requires matching id columns, got " +
              s"'${lm.idColumn}' and '${rm.idColumn}'")
          require(joinCols.contains(lm.idColumn),
            s"IDs private join must include the id column '${lm.idColumn}'")
          val joined = joinFrames(l.df, r.df, l.schema, r.schema, joinCols, "inner")
          // take the farther side's full metric so its exact square (if any)
          // travels with its L1 bound
          val metric = if (lm.distance >= rm.distance) lm else rm
          // overlapping non-join columns are suffixed _left/_right by
          // joinFrames; constraints follow (reference propagate_join_private)
          val overlap = l.schema.columnNames.intersect(r.schema.columnNames)
            .diff(joinCols).toSet
          val merged = Constraint.propagatePrivateJoin(
            l.constraints, r.constraints, overlap)
          TransformOut(joined, e.schema(cat), metric, merged)
        case _ => throw new IllegalArgumentException(
          "private join: cannot mix IDs and non-IDs tables")
      }

    case e @ ReplaceNullAndNan(child, replaceWith) =>
      val c = compile(child)
      val targets: Seq[(String, Any)] =
        if (replaceWith.nonEmpty) replaceWith.toSeq
        else c.schema.columns.filterNot { case (n, _) =>
            c.schema.idColumn.contains(n) || c.schema.groupingColumn.contains(n) }
          .map { case (n, d) => n -> ColumnType.defaultValue(d.ctype) }
      val df = targets.foldLeft(c.df) { case (acc, (name, v)) =>
        val d = c.schema(name)
        val base = col(name)
        val noNan = if (d.ctype == ColumnType.Decimal)
          when(isnan(base), lit(v)).otherwise(base) else base
        acc.withColumn(name, coalesce(noNan, lit(v)))
      }
      TransformOut(df, e.schema(cat),
        stripL2IfRewritten(c.metric, targets.map(_._1)), c.constraints)

    case e @ ReplaceInfinity(child, replaceWith) =>
      val c = compile(child)
      val targets: Seq[(String, (Double, Double))] =
        if (replaceWith.nonEmpty) replaceWith.toSeq
        else c.schema.columns.collect {
          case (n, d) if d.ctype == ColumnType.Decimal => n -> (0.0, 0.0)
        }
      val df = targets.foldLeft(c.df) { case (acc, (name, (lo, hi))) =>
        acc.withColumn(name,
          when(col(name) === lit(Double.NegativeInfinity), lit(lo))
            .when(col(name) === lit(Double.PositiveInfinity), lit(hi))
            .otherwise(col(name)))
      }
      TransformOut(df, e.schema(cat),
        stripL2IfRewritten(c.metric, targets.map(_._1)), c.constraints)

    case e @ DropNullAndNan(child, columns) =>
      val c = compile(child)
      val targets = (if (columns.isEmpty) c.schema.columnNames else columns)
        .filterNot(n => c.schema.idColumn.contains(n) ||
          (columns.isEmpty && c.schema.groupingColumn.contains(n)))
      val conds = targets.map { n =>
        val base = col(n).isNotNull
        if (c.schema(n).ctype == ColumnType.Decimal) base && !isnan(col(n)) else base
      }
      val df = if (conds.isEmpty) c.df else c.df.filter(conds.reduce(_ && _))
      TransformOut(df, e.schema(cat), c.metric, c.constraints)

    case e @ DropInfinity(child, columns) =>
      val c = compile(child)
      val targets = if (columns.isEmpty)
        c.schema.columns.collect { case (n, d) if d.ctype == ColumnType.Decimal => n }
      else columns
      val conds = targets.map { n =>
        col(n).isNull ||
          (col(n) =!= lit(Double.PositiveInfinity) &&
            col(n) =!= lit(Double.NegativeInfinity))
      }
      val df = if (conds.isEmpty) c.df else c.df.filter(conds.reduce(_ && _))
      TransformOut(df, e.schema(cat), c.metric, c.constraints)

    case e @ DistinctRows(child, cols) =>
      val c = compile(child)
      TransformOut(c.df.select(cols.map(col).toIndexedSeq: _*).dropDuplicates(),
        e.schema(cat), stripL2IfLost(c.metric, cols),
        Constraint.select(c.constraints, cols))

    case e @ TextFeature(child, kind, textCol, out) =>
      val c = compile(child)
      val t = graft.pipeline.TextAnalysis
      val expr = kind match {
        case TextFeatureKind.TokenCount     => t.tokenCount(col(textCol))
        case TextFeatureKind.SubwordCount   => t.subwordTokenCount(col(textCol))
        case TextFeatureKind.Language       => t.languageId(col(textCol))
        case TextFeatureKind.QualityScore   => t.qualityScore(col(textCol))
        case TextFeatureKind.Fingerprint    => t.fingerprint(col(textCol))
        case TextFeatureKind.MeanWordLength => t.meanWordLength(col(textCol))
      }
      TransformOut(c.df.withColumn(out, expr), e.schema(cat),
        stripL2IfRewritten(c.metric, Seq(out)), c.constraints)

    case e @ QualityFilter(child, textCol) =>
      val c = compile(child)
      TransformOut(c.df.filter(graft.pipeline.TextAnalysis.qualityOk(col(textCol))),
        e.schema(cat), c.metric, c.constraints)

    case e @ EnforceConstraint(child, constraint) =>
      val c = compile(child)
      val idCol = c.schema.idColumn.getOrElse(
        throw new IllegalArgumentException("enforce requires an IDs table"))
      val df = enforceOnIds(c.df, idCol, constraint)
      TransformOut(df, e.schema(cat), c.metric,
        Constraint.simplify(c.constraints :+ constraint))
  }

  /** Shared lowering for MapRows/FlatMapRows. `keep` narrows the encoded
    * output struct to a fused downstream Select's columns — the lambda
    * still sees every input column, but only the kept fields are built and
    * encoded per row. The returned TransformOut's schema is the full map
    * output schema; a fusing caller replaces it with the Select's.
    */
  private[compile] def compileMapLike(expr: TransformExpr, keep: Option[Seq[String]]): TransformOut =
    expr match {
      case e @ MapRows(child, f, _, augment) =>
        val c = compile(child)
        val inCodec = new RowCodec.StructCodec(c.schema.toStructType)
        val outSchema = e.schema(cat)
        val outStruct = outSchema.toStructType
        val kept = keptStruct(outSchema, outStruct, keep, c.constraints)
        val outCodec = new RowCodec.StructCodec(kept)
        val df = c.df.mapPartitions { it =>
          it.map { row =>
            val in = inCodec.view(row)
            outCodec.buildRow(f(in), if (augment) Some(in) else None)
          }
        }(Encoders.row(kept))
        // a non-augmenting map replaces every column, so the L2 credit's
        // grouping column does not survive; augmented maps are 1:1 on rows
        // with input columns intact, preserving the per-group structure
        val mapMetric =
          if (augment) c.metric
          else c.metric match {
            case RowsMetric(d, _) => RowsMetric(d)
            case m                => m
          }
        TransformOut(df, outSchema, mapMetric, c.constraints)

      case e @ FlatMapRows(child, f, _, augment, maxRows, _) =>
        val c = compile(child)
        val inCodec = new RowCodec.StructCodec(c.schema.toStructType)
        val outSchema = e.schema(cat)
        val outStruct = outSchema.toStructType
        val kept = keptStruct(outSchema, outStruct, keep,
          Constraint.flatMap(c.constraints))
        val outCodec = new RowCodec.StructCodec(kept)
        val df = c.df.mapPartitions { it =>
          it.flatMap { row =>
            val in = inCodec.view(row)
            f(in).take(maxRows).map(out =>
              outCodec.buildRow(out, if (augment) Some(in) else None))
          }
        }(Encoders.row(kept))
        val metric = c.metric match {
          case RowsMetric(d, l2) =>
            // with augment the grouping column survives and each changed
            // input row yields <= maxRows outputs in ITS group, so the L2
            // bound scales by maxRows — and its carried SQUARE by maxRows^2;
            // without augment the output need not preserve any per-group
            // structure — drop the credit
            RowsMetric(d * Rat(maxRows),
              if (augment)
                l2.map { case (c2, v) => c2 -> v * Rat(maxRows) * Rat(maxRows) }
              else None)
          case m: IDsMetric => m // per-ID distance unchanged
        }
        TransformOut(df, outSchema, metric, Constraint.flatMap(c.constraints))

      case other =>
        throw new IllegalStateException(s"not a map-like transform: $other")
    }

  /** Drop the rows-metric L2 credit when its grouping column is projected
    * away (the credit is only usable by group-bys on that column).
    */
  private def stripL2IfLost(m: Metric, kept: Seq[String]): Metric = m match {
    case r @ RowsMetric(_, Some((c, _))) if !kept.contains(c) =>
      r.copy(l2Credit = None)
    case other => other
  }

  /** Drop the L2 credit when a transform REWRITES the credit column's
    * values in place: value rewrites (null replacement, infinity
    * replacement, in-place rebinning) can merge protected groups, making
    * the change vector denser than the per-group structure the sqrt bound
    * assumes. Row-dropping transforms are fine — they only shrink the
    * vector.
    */
  private def stripL2IfRewritten(m: Metric, rewritten: Iterable[String]): Metric =
    m match {
      case r @ RowsMetric(_, Some((c, _))) if rewritten.exists(_ == c) =>
        r.copy(l2Credit = None)
      case other => other
    }

  /** The encoded struct for a narrowed map output: the kept columns plus
    * whatever the privacy bookkeeping still references (the id column and
    * any constraint grouping columns), never empty.
    */
  private def keptStruct(outSchema: TableSchema, outStruct: StructType,
      keep: Option[Seq[String]], constraints: Seq[Constraint]): StructType =
    keep match {
      case None => outStruct
      case Some(cols) =>
        val avail = outStruct.fieldNames.toSet
        val ccols = constraints.collect {
          case MaxGroupsPerID(c, _)       => c
          case MaxRowsPerGroupPerID(c, _) => c
        }
        val want = (cols ++ outSchema.idColumn.toSeq ++ ccols)
          .distinct.filter(avail.contains)
        if (want.isEmpty) StructType(Seq(outStruct.head))
        else StructType(want.map(outStruct(_)))
    }

  /** Window-based truncation of an IDs table (reference: core ops
    * LimitRowsPerGroup / LimitKeysPerGroup / LimitRowsPerKeyPerGroup,
    * constraints/_truncation.py:131-339). Ordering is by a deterministic row
    * hash, so results do not depend on Spark's partitioning order.
    */
  private def enforceOnIds(df: DataFrame, idCol: String, c: Constraint): DataFrame =
    c match {
      case MaxRowsPerID(n) =>
        val w = Window.partitionBy(idCol).orderBy(rowHash(df))
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
      case MaxGroupsPerID(g, n) =>
        val w = Window.partitionBy(idCol).orderBy(xxhash64(col(g)), col(g))
        df.withColumn("__dr", dense_rank().over(w)).filter(col("__dr") <= n).drop("__dr")
      case MaxRowsPerGroupPerID(g, n) =>
        val w = Window.partitionBy(idCol, g).orderBy(rowHash(df))
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
    }

  /** Per-join-key truncation for private joins of non-ID tables (reference
    * truncation_strategy.py:37-119).
    */
  private def truncate(
      df: DataFrame, keys: Seq[String], t: TruncationStrategy): DataFrame =
    t match {
      case TruncationStrategy.DropExcess(n) =>
        val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(rowHash(df))
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
      case TruncationStrategy.DropNonUnique =>
        val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
        df.withColumn("__cnt", count(lit(1)).over(w)).filter(col("__cnt") === 1)
          .drop("__cnt")
    }

  /** Equi-join with null-safe keys and the reference's output column
    * order/suffixing (reference _query_expr.py:909-918; join_on_nulls=True,
    * _base_transformation_visitor.py:968).
    */
  private def joinFrames(
      left: DataFrame, right: DataFrame, lSchema: TableSchema,
      rSchema: TableSchema, joinCols: Seq[String], how: String): DataFrame = {
    val overlap = lSchema.columnNames.intersect(rSchema.columnNames).diff(joinCols)
    val leftOnly = lSchema.columnNames.diff(rSchema.columnNames)
    val rightOnly = rSchema.columnNames.diff(lSchema.columnNames)
    val l2 = left.select(
      (joinCols ++ leftOnly).map(col) ++
        overlap.map(c => col(c).as(s"${c}_left")): _*)
    val r2 = right.select(
      joinCols.map(c => col(c).as(s"__r_$c")) ++
        rightOnly.map(col) ++ overlap.map(c => col(c).as(s"${c}_right")): _*)
    val cond = joinCols.map(c => l2(c) <=> r2(s"__r_$c")).reduce(_ && _)
    l2.join(r2, cond, how)
      .select((joinCols ++ leftOnly ++ rightOnly ++
        overlap.flatMap(c => Seq(s"${c}_left", s"${c}_right"))).map(col): _*)
  }
}
