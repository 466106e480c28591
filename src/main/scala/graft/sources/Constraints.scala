package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Cast, Coalesce, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.{assert_true, coalesce, expr, lit, not}
import org.apache.spark.sql.types.{BooleanType, StructType}

/** Table-level CHECK constraints (the Delta `delta.constraints.*` /
  * ANSI CHECK role, re-derived for this manifest): a table property
  * `constraint.<name> = '<boolean sql over the table's columns>'`
  * makes every write path refuse rows for which the expression is
  * FALSE (SQL CHECK semantics: NULL passes — a constraint rejects
  * proven violations, not unknowns).
  *
  * Enforcement is per-row INSIDE the write job — no extra pass over
  * the incoming data, which at 100 TB is the difference between a
  * free guarantee and doubling every ingest's read cost:
  *   - the DSv2 writers ([[GraftWriterBase]]: SQL INSERT, streaming
  *     append, copy-on-write UPDATE/MERGE rewrites, delta-mode
  *     UPDATE/MERGE inserts) evaluate a driver-bound, executor-side
  *     CODEGEN'd predicate per row;
  *   - the Scala frame paths ([[TsStore.write]] append,
  *     [[TsStore.upsert]] delta) ride a codegen'd `assert_true`
  *     filter inside the write's own lineage.
  *
  * ADD (`ALTER TABLE ... SET TBLPROPERTIES`) validates the expression
  * against the declared schema AND scans existing data — a constraint
  * the live rows already violate refuses, so every committed
  * constraint is an invariant over the WHOLE table, which is what
  * lets maintenance rewrites (compact/zorder) skip re-checking.
  * DROP COLUMN / RENAME COLUMN of a referenced column refuse until
  * the constraint is UNSET (type WIDENING is fine: bindings resolve
  * fresh against the current schema at every write).
  */
object Constraints {
  /** Table-property prefix — user-facing like `delete.mode`, not
    * `graft.`-prefixed (the catalog refuses direct SET of managed
    * `graft.*` props; constraints are user DDL).
    */
  val Prefix = "constraint."

  final case class Check(name: String, sql: String)

  /** A driver-analyzed, schema-bound, serializable per-row check.
    * `expr` is `coalesce(cast(<sql> as boolean), true)` over
    * [[BoundReference]]s — NULL passes by construction, so executor
    * code treats exactly `false` as a violation.
    */
  final case class Bound(name: String, sql: String, expr: Expression)
    extends Serializable

  /** Executor-side evaluator: compiles the bound checks to codegen'd
    * predicates once per writer and throws on the first violating row.
    */
  final class RowGuard(checks: Seq[Bound], partitionId: Int) {
    private val preds = checks.map { c =>
      val p = Predicate.create(c.expr)
      p.initialize(partitionId)
      (c, p)
    }
    def check(row: InternalRow): Unit = {
      var i = 0
      while (i < preds.length) {
        val (c, p) = preds(i)
        if (!p.eval(row)) throw new IllegalArgumentException(violation(c))
        i += 1
      }
    }
    def isEmpty: Boolean = preds.isEmpty
  }

  private def violation(c: Check): String = violation(c.name, c.sql)
  private def violation(b: Bound): String = violation(b.name, b.sql)
  private def violation(name: String, sql: String): String =
    s"CHECK constraint '$name' ($sql) violated — refusing write"

  def fromProps(props: Map[String, String]): Seq[Check] =
    props.collect { case (k, v) if k.startsWith(Prefix) && v.nonEmpty =>
      Check(k.stripPrefix(Prefix), v)
    }.toSeq.sortBy(_.name)

  /** NOT NULL column constraints (`ALTER TABLE ... ALTER COLUMN c SET
    * NOT NULL`): recorded as a graft-managed prop (comma-joined column
    * list) — NOT inferred from the declared schema's nullability,
    * deliberately: a CTAS stores its SELECT's schema, whose
    * non-nullable fields reflect the source lineage, not a user
    * promise; enforcing those would make a later legal NULL insert
    * refuse out of nowhere. Only the explicit DDL verb opts a column
    * in. Enforcement rides the CHECK machinery wholesale: each listed
    * column synthesizes a [[Check]] (`c IS NOT NULL` — which, unlike a
    * user CHECK, can never evaluate to unknown), so every write path's
    * per-row guard, the ADD-time existing-data scan, the DROP/RENAME
    * COLUMN refusals, and the concurrent-ADD commit recheck all apply
    * without a second code path.
    */
  val NotNullProp = "graft.notnull"

  /** The synthesized name of a column's NOT NULL check (shows up in
    * violation messages and [[addedSince]] aborts).
    */
  def notNullName(column: String): String = s"notnull_$column"

  def notNullCols(props: Map[String, String]): Seq[String] =
    props.get(NotNullProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  def notNullChecks(props: Map[String, String]): Seq[Check] =
    notNullCols(props).map(c => Check(notNullName(c), s"`$c` IS NOT NULL"))

  /** ALL effective constraints of `props`: user CHECKs plus the
    * synthesized NOT NULL checks — what every write path binds.
    */
  def effective(props: Map[String, String]): Seq[Check] =
    fromProps(props) ++ notNullChecks(props)

  /** The live constraints of a store (empty before its first write and
    * for stores without any). Write-side lookups always read LATEST —
    * constraints are write-time invariants, not per-version reads.
    */
  def forStore(path: String): Seq[Check] =
    StoreLog.latestVersion(path)
      .map(v => effective(StoreLog.propsAt(path, v))).getOrElse(Nil)

  /** Constraints in `props` that were NOT in the set a writer bound at
    * write start — a concurrent `ALTER ... ADD` that landed while the
    * write was in flight. The writer's staged rows were never validated
    * against these (its per-row guard predates them), so every commit
    * path re-checks its rebased parent's props with this and ABORTS on
    * a non-empty answer: otherwise an append racing ADD CONSTRAINT
    * could commit unchecked rows AFTER the constraint commit, silently
    * breaking the whole-table-invariant contract `validateAdd`'s
    * existing-data scan promises (the CAS totally orders the two
    * commits, so parent-props inspection at each attempt is exact).
    * A DROPPED constraint is harmless — the rows were checked more
    * strictly than required.
    */
  def addedSince(bound: Seq[Check], props: Map[String, String]): Seq[Check] =
    effective(props).filterNot(bound.contains)

  /** Frame-level guard for the Scala write paths: each check rides as
    * a codegen'd `assert_true(coalesce(c, true))` filter — keeps every
    * row, throws (with the constraint named) on the first violation,
    * costs nothing when `cs` is empty.
    */
  def guard(df: DataFrame, cs: Seq[Check]): DataFrame =
    cs.foldLeft(df) { case (d, c) =>
      d.filter(assert_true(
        coalesce(expr(c.sql).cast(BooleanType), lit(true)),
        lit(violation(c))).isNull)
    }

  /** Driver-side analysis + binding for the InternalRow writers: each
    * constraint analyzes as a single-row boolean projection over
    * `schema` (aggregates/windows produce a non-Project plan and
    * refuse; unknown columns die in the analyzer) and its resolved
    * attributes re-bind positionally, so the result is a serializable
    * expression the task compiles with [[Predicate.create]].
    */
  def bind(spark: SparkSession, schema: StructType, cs: Seq[Check]): Seq[Bound] =
    cs.map { c =>
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      val plan = empty.select(expr(c.sql).cast(BooleanType).as("__check"))
        .queryExecution.analyzed
      val resolved = plan match {
        case Project(Seq(a: Alias), _) => a.child
        case other => throw new IllegalArgumentException(
          s"CHECK constraint '${c.name}' (${c.sql}) must be a row-level " +
            s"boolean expression — got a ${other.nodeName} plan " +
            "(aggregates/windows cannot gate single rows)")
      }
      require(resolved.deterministic,
        s"CHECK constraint '${c.name}' (${c.sql}) must be deterministic")
      // a subquery survives the Project shape (it rides as a
      // PlanExpression inside the projection) but is Unevaluable in the
      // writers' row predicates — refuse at DDL time, not first INSERT
      require(!resolved.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
        s"CHECK constraint '${c.name}' (${c.sql}) must not contain " +
          "subqueries — it gates single rows at write time")
      val bound = resolved.transform { case a: AttributeReference =>
        BoundReference(schema.fieldIndex(a.name), a.dataType, a.nullable)
      }
      Bound(c.name, c.sql, Coalesce(Seq(bound, Literal(true, BooleanType))))
    }

  /** The top-level column names a constraint expression mentions
    * (parse-only — no schema needed), lowercased for the DDL guards.
    */
  def referencedCols(spark: SparkSession, sql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case u: UnresolvedAttribute => u.nameParts.head.toLowerCase
    }.toSet

  /** Constraint names (from `props`) that reference `column` — the
    * DROP/RENAME COLUMN refusal cue.
    */
  def referencing(spark: SparkSession, props: Map[String, String],
                  column: String): Seq[String] =
    effective(props).collect {
      case c if referencedCols(spark, c.sql).contains(column.toLowerCase) =>
        c.name
    }

  /** ADD-time validation: the expression must analyze against the
    * declared schema, and the table's EXISTING rows must satisfy it —
    * the Delta ADD CONSTRAINT contract. The scan is one pushdown-
    * friendly filtered read stopping at the first violation; an empty
    * table validates for free.
    */
  def validateAdd(spark: SparkSession, path: String, schema: StructType,
                  check: Check): Unit = {
    bind(spark, schema, Seq(check)) // analyzes; throws on bad expressions
    val existing = spark.read.format("graft").load(path)
    val bad = existing
      .filter(not(coalesce(expr(check.sql).cast(BooleanType), lit(true))))
      .limit(1).count()
    require(bad == 0L,
      s"cannot add CHECK constraint '${check.name}' (${check.sql}): " +
        "existing rows violate it — fix the data first (a committed " +
        "constraint is an invariant over the whole table)")
  }
}
