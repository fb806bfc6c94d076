package graft.session

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.accounting._
import graft.budget._
import graft.compile._
import graft.constraints.Constraint
import graft.exec.NoiseInfo
import graft.ir._
import graft.types.{CoerceSchema, TableSchema}

/** The interactive DP session: owns the catalog and the privacy-budget
  * accountant; answers queries via evaluate (reference:
  * src/tmlt/analytics/session.py). One Session = one sequential-composition
  * envelope; partitionAndCreate spawns children under parallel composition.
  */
final class Session private (
    val spark: SparkSession,
    initialBudget: PrivacyBudget,
    privateTables: mutable.Map[String, PrivateTable],
    publicTables: mutable.Map[String, DataFrame]) {

  // written only by `spend`, under this session's lock
  @volatile private var remaining: PrivacyBudget = initialBudget
  private[session] var retired: Boolean = false
  // names registered via createView — deleteView may only remove these,
  // never a base private table (reference session.py delete_view contract)
  private val viewNames = mutable.Set.empty[String]
  // accountant-tree bookkeeping (reference session states
  // ACTIVE/RETIRED/WAITING_FOR_CHILDREN/WAITING_FOR_SIBLING,
  // session.py:637-657): children must be consumed in creation order;
  // touching the parent retires all children, touching a later child
  // retires earlier siblings.
  private var activeChildren: Seq[Session] = Nil
  private var olderSiblings: Seq[Session] = Nil

  def remainingPrivacyBudget: PrivacyBudget = remaining
  def privateSources: Seq[String] = privateTables.keys.toSeq.sorted
  def publicSources: Seq[String] = publicTables.keys.toSeq.sorted

  /** Private-table metadata lookup with the reference's error split: a
    * PUBLIC name gets the targeted "is a public table" message
    * (test_session.py test_invalid_data_properties), an unknown name gets a
    * not-found error listing the private sources — never a bare KeyError.
    */
  private def privateTableOrFail(table: String, what: String): PrivateTable =
    privateTables.get(table) match {
      case Some(t) => t
      case None if publicTables.contains(table) =>
        throw new IllegalArgumentException(
          s"Table '$table' is a public table, which cannot have $what.")
      case None =>
        throw new IllegalArgumentException(
          s"private table '$table' does not exist " +
            s"(private sources: ${privateSources.mkString(", ")})")
    }

  def getSchema(table: String): TableSchema =
    privateTableOrFail(table, "a private schema").schema

  /** Column name -> analytics type (reference session.py get_column_types). */
  def getColumnTypes(table: String): Map[String, graft.types.ColumnType] =
    getSchema(table).columns.map { case (n, d) => n -> d.ctype }.toMap

  /** The grouping column a partitioned child was created on, if any
    * (reference session.py get_grouping_column).
    */
  def getGroupingColumn(table: String): Option[String] =
    privateTableOrFail(table, "a grouping column").schema.groupingColumn

  /** The privacy-ID column of an IDs table (reference get_id_column). */
  def getIdColumn(table: String): Option[String] =
    privateTableOrFail(table, "an id column").schema.idColumn

  /** The identifier space of an IDs table (reference get_id_space). */
  def getIdSpace(table: String): Option[String] =
    privateTableOrFail(table, "an id space").schema.idSpace

  /** The registered public tables (reference public_source_dataframes). */
  def publicSourceDataframes: Map[String, DataFrame] = publicTables.toMap

  /** The constraints established on a private table or view (the
    * reference's per-table constraint registry, surfaced by describe).
    */
  def getConstraints(table: String): Seq[Constraint] =
    privateTableOrFail(table, "constraints").constraints

  /** Retire this session: no further queries or views can be issued
    * (reference session.py stop).
    */
  def stop(): Unit = { retired = true }

  private def catalog: Catalog = Catalog(privateTables.toMap, publicTables.toMap)

  private def checkActive(): Unit = {
    if (retired) throw new IllegalStateException(
      "this Session is retired (its parent or a later sibling has taken over)")
    // working on this session ends its children's and older siblings' turns
    activeChildren.foreach(_.retired = true)
    activeChildren = Nil
    olderSiblings.foreach(_.retired = true)
    olderSiblings = Nil
  }

  /** Charge `b`: the kind check, the sufficiency check and the subtraction
    * are one step under this session's lock, so concurrent `evaluate`s can
    * never both pass the check on the same remaining budget.
    */
  private def spend(b: PrivacyBudget): Unit = synchronized {
    // kind mismatch first: a PureDP request against a zCDP session is a
    // type error, not an overspend (reference
    // _validate_budget_type_matches_session, session.py)
    val kindMatches = (remaining, b) match {
      case (_: PureDPBudget, _: PureDPBudget)     => true
      case (_: ApproxDPBudget, _: ApproxDPBudget) => true
      case (_: ApproxDPBudget, _: PureDPBudget)   => true // delta = 0 special case
      case (_: RhoZCDPBudget, _: RhoZCDPBudget)   => true
      case _                                      => false
    }
    if (!kindMatches)
      throw new IllegalArgumentException(
        s"budget kind mismatch: session accounts ${remaining.getClass.getSimpleName}, " +
          s"query requested ${b.getClass.getSimpleName}")
    // a fully infinite remaining budget (inf epsilon/rho, or ApproxDP with
    // delta = 1) accepts any same-kind request
    if (!(remaining.isInfinite || remaining >= b))
      throw new IllegalArgumentException(
        s"insufficient privacy budget: requested $b, remaining $remaining")
    remaining = remaining - b
  }

  /** Answer a DP query, spending `budget` (reference session.py:1050-1151).
    *
    * The returned DataFrame is a *release*: when the compiled plan contains
    * any random mechanism, it is materialized here so that one budget charge
    * corresponds to exactly one sampled draw. Returning the lazy plan would
    * let a caller re-run it (show/collect/write each re-execute) and average
    * out the noise for free, and task retries could mix draws within one
    * result (the reference materializes measurement outputs for the same
    * reason). The noiseless path (infinite budget) stays lazy: it is a pure
    * deterministic function, so re-execution cannot reveal anything new.
    */
  def evaluate(query: Query, budget: PrivacyBudget): DataFrame = {
    checkActive()
    // a zero budget cannot calibrate any mechanism (scale = sens/0); the
    // reference rejects it up front with the same message
    if (budget.isZero) throw new IllegalArgumentException(
      "You need a non-zero privacy budget to evaluate a query.")
    // tolerate one-part-in-10^9 over-requests by rounding the request DOWN
    // to the remaining budget BEFORE compiling, so the mechanisms are
    // calibrated to what is actually charged (reference session.py adjusts
    // via _get_adjusted_budget before visiting the query)
    val adjusted = PrivacyBudget.adjustToRemaining(budget, remaining)
    val out = compileMeasure(query, adjusted)
    spend(out.spend)
    MeasurementPlanner.releaseOnce(out.df, out.noise)
  }

  /** Per-output-column noise description (reference
    * session.py:1001-1048, _noise_info.py). Spends no budget and releases
    * nothing, but it compiles the query, so it may run the public-table
    * statistics the calibration needs: a `join_public`'s fan-out scales
    * the noise and is measured by a Spark job.
    */
  def noiseInfo(query: Query, budget: PrivacyBudget): Seq[NoiseInfo] = {
    checkActive() // a retired session answers no interactions, even free ones
    compileMeasure(query, budget).noise
  }

  private def compileMeasure(query: Query, budget: PrivacyBudget): MeasureOut = {
    val cat = catalog
    query.expr.schema(cat.schemas) // analyze/validate eagerly
    new MeasurementPlanner(cat, budget, spark).compile(query.expr)
  }

  /** Register a transformation as a derived private table (reference
    * session.py:1154-1246). `cache` persists the materialized view.
    */
  def createView(qb: QueryBuilder, name: String, cache: Boolean = false): Unit = {
    checkActive()
    Session.assertIdentifier(name)
    if (privateTables.contains(name) || publicTables.contains(name))
      throw new IllegalArgumentException(s"table '$name' already exists")
    val out = new TransformPlanner(catalog, spark).compile(qb.expr)
    val df = if (cache) out.df.persist() else out.df
    // the view keeps its chain's metric as it is; the declaration is only
    // what describe() prints beside the effective distance
    val declared = out.metric match {
      case m: IDsMetric  => AddRowsWithID(m.idColumn, m.idSpace)
      case _: RowsMetric => AddOneRow()
    }
    privateTables(name) =
      PrivateTable(df, out.schema, declared, out.metric, out.constraints)
    viewNames += name
  }

  def deleteView(name: String): Unit = {
    checkActive()
    if (!viewNames.contains(name))
      throw new IllegalArgumentException(
        s"'$name' is not a view (views: ${viewNames.toSeq.sorted.mkString(", ")})")
    viewNames -= name
    privateTables.remove(name).foreach(t => t.df.unpersist())
  }

  def addPublicDataFrame(name: String, df: DataFrame): Unit = {
    Session.assertIdentifier(name)
    if (privateTables.contains(name) || publicTables.contains(name))
      throw new IllegalArgumentException(s"table '$name' already exists")
    publicTables(name) = CoerceSchema(df)
  }

  /** Split one private table into disjoint child Sessions by the values of
    * `column` — parallel composition: each child gets the full `budget`
    * while this session is charged once (reference session.py:1466-1653).
    * Children are returned in `splits` order.
    */
  def partitionAndCreate(
      sourceId: String,
      budget: PrivacyBudget,
      column: String,
      splits: Seq[(String, Any)]): Map[String, Session] = {
    checkActive()
    val t = privateTableOrFail(sourceId, "partitions")
    if (!t.schema.contains(column))
      throw new IllegalArgumentException(s"partition column '$column' not in schema")
    // parallel composition requires DISJOINT children: a value appearing in
    // two splits would put the same rows under two sessions each holding the
    // full budget (the reference's dict input and core partition
    // transformation make duplicates unrepresentable)
    splits.foreach { case (n, _) => Session.assertIdentifier(n) }
    require(splits.map(_._1).distinct.size == splits.size,
      "partition_and_create: split names must be distinct")
    require(splits.map(_._2).distinct.size == splits.size,
      "partition_and_create: split values must be distinct")
    // split values must match the partition column's type (reference
    // test_splits_value_type raises a TypeError naming the column): a
    // mistyped value would otherwise compare unequal everywhere and
    // silently hand back an EMPTY child holding real budget
    locally {
      import graft.types.ColumnType
      val ctype = t.schema.columns.collectFirst {
        case (n, d) if n == column => d.ctype }.get
      splits.foreach { case (childName, v) =>
        val ok = v == null || (ctype match {
          case ColumnType.Integer => v.isInstanceOf[Byte] ||
            v.isInstanceOf[Short] || v.isInstanceOf[Int] || v.isInstanceOf[Long]
          case ColumnType.Decimal => v.isInstanceOf[Float] || v.isInstanceOf[Double]
          case ColumnType.Varchar => v.isInstanceOf[String]
          case ColumnType.Date => v.isInstanceOf[java.sql.Date] ||
            v.isInstanceOf[java.time.LocalDate]
          case ColumnType.Timestamp => v.isInstanceOf[java.sql.Timestamp] ||
            v.isInstanceOf[java.time.Instant]
        })
        if (!ok) throw new IllegalArgumentException(
          s"partition_and_create: split value $v (for child '$childName') " +
            s"does not match partition column '$column' of type $ctype")
      }
    }
    // IDs tables: the constraint set decides the children's metric, which
    // each child stores as its parent's, scaled (reference
    // _create_partition_transformation, session.py:1380-1423, and
    // test/system/session/ids/test_partition.py):
    //  - MaxGroupsPerID on the PARTITION column -> children stay IDs tables
    //    (the bound caps how many children one ID reaches);
    //  - otherwise MaxRowsPerID(k) -> children become plain rows tables at
    //    rows distance k * (IDs distance), id metadata dropped;
    //  - anything else (including MaxRowsPerGroupPerID alone) is an error.
    val template: PrivateTable = t.metric match {
      case m: IDsMetric =>
        val groupsBound = t.constraints.collectFirst {
          case g @ graft.constraints.MaxGroupsPerID(c, _) if c == column => g }
        val rowsBound = t.constraints.collectFirst {
          case r: graft.constraints.MaxRowsPerID => r }
        (groupsBound, rowsBound) match {
          case (Some(gb), _) =>
            // consumed: within a child every ID holds one group value. But
            // one ID reaches up to g = gb.max children, each holding the
            // full child budget, so each child's IDs distance scales by g
            // under PureDP/ApproxDP and by sqrt(g) under zCDP (the square
            // g*d^2 is exact; the L1 bound is rounded up) — reference
            // test/system/session/ids/test_partition.py asserts
            // table_stability 2 and sqrt(2) for g = 2. Leaving the distance
            // unscaled would under-noise every child query by g (sqrt(g)).
            val g = Rat(gb.max.toLong)
            val scaled = remaining match {
              case _: RhoZCDPBudget =>
                m.copy(distance = m.distance * Rat.sqrtUpper(g),
                  sqDistance = Some(m.sq * g))
              case _ =>
                m.copy(distance = m.distance * g, sqDistance = Some(m.sq * g * g))
            }
            t.copy(metric = scaled, constraints = t.constraints.filterNot(_ == gb))
          case (None, Some(graft.constraints.MaxRowsPerID(k))) =>
            t.copy(
              schema = t.schema.copy(idColumn = None, idSpace = None),
              protectedChange = AddMaxRows(k),
              metric = RowsMetric(Rat(k.toLong) * m.distance),
              constraints = Nil)
          case _ =>
            throw new IllegalArgumentException(
              "You must create a MaxGroupsPerID or MaxRowsPerID constraint " +
                "before using partition_and_create on tables with the " +
                "AddRowsWithID protected change (reference session.py:1390-1418)")
        }
      case _: RowsMetric => t
    }
    val adjusted = PrivacyBudget.adjustToRemaining(budget, remaining)
    spend(adjusted)
    val kids = splits.map { case (childName, value) =>
      // null-safe match: null is a legal partition value (plain === would
      // silently produce an empty child for it)
      val childDf = template.df.filter(col(column) <=> lit(value))
      // partitioning ON the grouping column discharges the grouping
      // obligation: each child holds exactly one group, so its metric is the
      // plain rows metric and a child query needs no group-by on it
      // (reference: core PartitionByKeys on an IfGroupedBy metric keyed by
      // the same column; test_add_max_rows.py test_partition_on_flatmap_
      // grouping_column evaluates a plain count on the children)
      val childSchema =
        if (template.schema.groupingColumn.contains(column))
          template.schema.copy(groupingColumn = None)
        else template.schema
      val childTables = mutable.Map(
        childName -> template.copy(df = childDf, schema = childSchema))
      childName -> new Session(spark, adjusted, childTables,
        mutable.Map(publicTables.toSeq: _*))
    }
    // creation-order discipline: each child retires earlier siblings on
    // first use; using this session again retires every child
    val ordered = kids.map(_._2)
    ordered.zipWithIndex.foreach { case (k, i) => k.olderSiblings = ordered.take(i) }
    activeChildren = ordered
    kids.toMap
  }

  /** Human-readable description of session state (reference session.py
    * `describe`).
    */
  def describe(): String = {
    val sb = new StringBuilder
    sb.append(s"Remaining privacy budget: $remaining\n")
    sb.append("Private tables:\n")
    privateSources.foreach { n =>
      val t = privateTables(n)
      // a view or partition child's distance can outgrow its declaration
      // (a chain's stability, x groups bound, or its root under zCDP) —
      // show the distance actually driving noise calibration when they differ
      val distanceNote = (t.protectedChange, t.metric) match {
        case (AddRowsWithID(_, _, m), im @ IDsMetric(_, _, d, _)) if d != Rat(m.toLong) =>
          // a zCDP child's distance is a rounded-up root; its exact square
          // is what the Gaussian calibrations read
          s"; effective id distance: $d" +
            (if (im.sq != d * d) s" (squared: ${im.sq})" else "")
        case (AddMaxRows(k), RowsMetric(d, _)) if d != Rat(k.toLong) =>
          s"; effective rows distance: $d"
        case _ => ""
      }
      sb.append(s"  $n (protected: ${t.protectedChange}" + distanceNote +
        (if (t.constraints.nonEmpty) s"; constraints: ${t.constraints.mkString(", ")}"
         else "") + ")\n")
      t.schema.columns.foreach { case (c, d) =>
        val marks = Seq(
          if (t.schema.idColumn.contains(c)) Some("id") else None,
          if (t.schema.groupingColumn.contains(c)) Some("grouping") else None,
          if (d.allowNull) Some("nullable") else None).flatten
        sb.append(s"    $c: ${d.ctype}" +
          (if (marks.nonEmpty) marks.mkString(" [", ", ", "]") else "") + "\n")
      }
      t.schema.idSpace.foreach(sp => sb.append(s"    (id space: $sp)\n"))
    }
    if (publicTables.nonEmpty) {
      sb.append("Public tables:\n")
      publicSources.foreach { n =>
        sb.append(s"  $n: ${publicTables(n).columns.mkString(", ")}\n")
      }
    }
    sb.toString
  }

  /** Describe a query's output schema without evaluating (and without
    * spending budget) — the reference's `Session.describe(query)` overload
    * (session.py:550): one line per output column with type and
    * nullability.
    */
  def describe(q: Query): String =
    describeSchema(q.expr.schema(catalog.schemas)) + keysetNote(q.expr)
  def describe(qb: QueryBuilder): String =
    describeSchema(qb.expr.schema(catalog.schemas)) + keysetNote(qb.expr)

  private def describeSchema(schema: TableSchema): String = {
    val header = f"${"Column Name"}%-24s ${"Column Type"}%-12s Nullable"
    val rows = schema.columns.map { case (c, d) =>
      f"$c%-24s ${d.ctype.toString}%-12s ${d.allowNull}"
    }
    (header +: rows).mkString("\n")
  }

  /** Factored group-key diagnostics for grouped queries (reference
    * `KeySet._decompose` surfaced through describe): when the keyset has
    * structure — a cross product of factors and/or subtracted values —
    * print it, so "why is this keyset shaped this way" answers without
    * evaluating anything. Single-factor keysets and plan keysets
    * ([[graft.keyset.KeySet.detect]], no factorization before evaluation)
    * print nothing, keeping the long-pinned single-table describes stable.
    */
  private def keysetNote(expr: QueryExpr): String = expr match {
    case s: QueryExpr.SuppressAggregates => keysetNote(s.child)
    case g: QueryExpr.GroupByAgg =>
      try {
        val (factors, subtracted) = g.keys.decompose()
        if (factors.size <= 1 && subtracted.isEmpty) ""
        else
          "\n\nGroup keys (factored): " + factors.mkString(" x ") +
            (if (subtracted.isEmpty) ""
             else subtracted.mkString("; subtracted: ", ", ", ""))
      } catch { case _: IllegalStateException => "" } // plan keyset
    case _ => ""
  }
}

object Session {

  /** Table/view/id-space names must be identifiers, as in the reference
    * (_utils.py assert_is_identifier): alphanumerics and underscores only,
    * no leading digit, non-empty.
    */
  private[session] def assertIdentifier(name: String): Unit =
    require(name.nonEmpty && !name.head.isDigit &&
      name.forall(c => c.isLetterOrDigit || c == '_'),
      s"'$name' is not a valid name: names can only contain alphanumeric " +
        "characters and underscores, and cannot begin with a number")

  /** reference session.py:336-401 */
  def fromDataFrame(
      spark: SparkSession,
      budget: PrivacyBudget,
      sourceId: String,
      df: DataFrame,
      protectedChange: ProtectedChange): Session =
    new Builder().withPrivacyBudget(budget)
      .withPrivateDataFrame(sourceId, df, protectedChange)
      .build(spark)

  /** reference session.py:258-295 / _base_builder.py:82-127 */
  final class Builder {
    private var budget: Option[PrivacyBudget] = None
    private val privates = mutable.LinkedHashMap.empty[String, (DataFrame, ProtectedChange)]
    private val publics = mutable.LinkedHashMap.empty[String, DataFrame]
    private val idSpaces = mutable.LinkedHashSet.empty[String]

    def withPrivacyBudget(b: PrivacyBudget): this.type = {
      // reference test_invalid_to_add_budget_twice: a second budget must not
      // silently replace the first
      require(budget.isEmpty,
        "This Builder already has a privacy budget set")
      budget = Some(b)
      this
    }
    def withPrivateDataFrame(
        name: String, df: DataFrame, pc: ProtectedChange): this.type = {
      Session.assertIdentifier(name)
      require(!privates.contains(name) && !publics.contains(name),
        s"table '$name' already declared")
      privates(name) = (df, pc)
      this
    }
    def withPublicDataFrame(name: String, df: DataFrame): this.type = {
      Session.assertIdentifier(name)
      require(!privates.contains(name) && !publics.contains(name),
        s"table '$name' already declared")
      publics(name) = df
      this
    }
    def withIdSpace(name: String): this.type = { idSpaces += name; this }

    def build(spark: SparkSession): Session = {
      val b = budget.getOrElse(
        throw new IllegalStateException("privacy budget is required"))
      require(privates.nonEmpty, "at least one private table is required")
      // Joint ID-space accounting (reference AddRemoveKeys,
      // session.py:113-143 + _neighboring_relation_visitor.py:142-157):
      // every table whose AddRowsWithID names the same id space belongs to
      // ONE protected unit — a neighboring dataset adds/removes one
      // identifier's rows from ALL of them at once. The unit has a single
      // input distance, so each member table is rewritten to carry the
      // space-wide maximum; a per-table distance would under-count a query
      // against a table whose space-mate declared a larger bound.
      if (privates.size == 1) privates.head._2._2 match {
        // reference _base_builder.py:144-156: a sole private table's id
        // space is registered implicitly
        case AddRowsWithID(_, space, _) => idSpaces += space
        case _ =>
      }
      val jointMaxIds: Map[String, Int] = privates.values.collect {
        case (_, AddRowsWithID(_, space, maxIds)) => space -> maxIds
      }.toSeq.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).max }
      val priv = privates.map { case (name, (df, pc0)) =>
        val pc = pc0 match {
          case a @ AddRowsWithID(_, space, _) =>
            if (!idSpaces.contains(space))
              throw new IllegalArgumentException(
                "An AddRowsWithID protected change was specified without an " +
                  s"associated identifier space for the session: '$space' " +
                  s"(declared id spaces: ${idSpaces.mkString(", ")}); " +
                  "declare it with withIdSpace (reference session.py:283-290)")
            a.copy(maxIDs = jointMaxIds(space))
          case other => other
        }
        val coerced = CoerceSchema(df)
        val schema = pc match {
          case AddRowsWithID(idCol, idSpace, _) =>
            require(coerced.columns.contains(idCol),
              s"id column '$idCol' not in table '$name'")
            // the ID column of a protected table may not be null-padded away
            TableSchema.fromSpark(coerced.schema, idColumn = Some(idCol),
              idSpace = Some(idSpace))
          case _ => TableSchema.fromSpark(coerced.schema)
        }
        name -> PrivateTable(coerced, schema, pc, Metric.fromProtectedChange(pc))
      }
      new Session(spark, b, mutable.Map(priv.toSeq: _*),
        mutable.Map(publics.toSeq.map { case (n, df) => n -> CoerceSchema(df) }: _*))
    }
  }
}
