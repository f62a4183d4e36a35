package graft.sql

import graft.DeltaTable
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  InsertAction, InsertStarAction, LogicalPlan, MergeAction, UpdateAction,
  UpdateStarAction}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit, not, coalesce}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.{Column, Row, SparkSession}

/** Opaque holder for the statement's raw (unresolved) merge expressions.
  *
  * A [[LeafRunnableCommand]]'s product fields are scanned by
  * `QueryPlan.expressions`; unresolved attributes stored there would flunk
  * `CheckAnalysis` before `run` ever fires. Wrapping them in a plain class
  * (not an `Expression`, not a collection the scanner recurses into) keeps
  * them invisible to the analyzer — they are resolved at RUN time against
  * the engine's own `t`/`s`-aliased join frames, exactly like the string
  * predicates `DeleteCommand`/`UpdateCommand` re-parse.
  */
final class MergeSpecHolder(
    val onCondition: Expression,
    val matched: Seq[MergeAction],
    val notMatched: Seq[MergeAction],
    val notMatchedBySource: Seq[MergeAction]) extends Serializable

/** SQL `MERGE INTO graft.`/path`` run by the engine's one MERGE executor
  * (`DeltaTable.mergeClauses`) — the one DML verb delta-spark users write
  * as SQL more than any other. The statement becomes one clause list: the
  * whole-row form for an unconditioned `UPDATE SET *` with `INSERT *` and
  * no matched DELETE (it alone takes NOT MATCHED BY SOURCE and schema
  * evolution), column-wise SET / DELETE / INSERT clauses otherwise.
  *
  * Spark's own parser produces the `MergeIntoTable` plan; the graft parser
  * intercepts it TOP-DOWN before path-table read resolution (like INSERT:
  * a target rewritten to a raw file relation would plan a log-bypassing
  * write — corruption). Clause semantics follow delta's first-matching-
  * clause-wins ordering: when an UPDATE precedes a DELETE, the delete
  * condition is narrowed by `NOT updateCondition` so a row satisfying both
  * updates (and an unconditioned UPDATE makes a later DELETE dead, as in
  * delta); when the DELETE comes first, the engine's delete-then-set order
  * already matches.
  *
  * Scale shape: all execution is the engine's — stats-pruned touched-file
  * discovery via a broadcast source-key semi-join, only touched files
  * rewritten, inserts appended, one atomic commit. The SQL layer adds
  * parsing only.
  */
case class GraftMergeCommand(path: String, sourcePlan: LogicalPlan,
    targetAlias: Option[String], sourceAlias: Option[String],
    spec: MergeSpecHolder, schemaEvolution: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Seq.empty

  private def is(q: String, alias: Option[String]): Boolean =
    alias.exists(q.equalsIgnoreCase)

  /** Requalify statement aliases to the engine's `t`/`s` join aliases. */
  private def requalify(e: Expression, renames: Map[String, String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if is(q, targetAlias) => UnresolvedAttribute(Seq("t", n))
        case Seq(q, n) if is(q, sourceAlias) =>
          UnresolvedAttribute(Seq("s", renames.getOrElse(n, n)))
        case _ => a
      }
    }

  /** NMBS conditions run over target-only frames: bare target names. */
  private def bareTarget(e: Expression): Expression = e.transformUp {
    case a: UnresolvedAttribute => a.nameParts match {
      case Seq(q, n) if is(q, targetAlias) => UnresolvedAttribute(Seq(n))
      case Seq(q, _) if is(q, sourceAlias) =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE conditions cannot reference the source")
      case _ => a
    }
  }

  private def colOf(e: Expression, renames: Map[String, String]): Column =
    ColumnShim.column(requalify(e, renames))

  /** Target column name of an assignment key, qualifier validated. */
  private def assignTarget(a: Assignment): String = a.key match {
    case attr: UnresolvedAttribute => attr.nameParts match {
      case Seq(n) => n
      case Seq(q, n) if is(q, targetAlias) => n
      case parts => throw new IllegalArgumentException(
        s"assignment target must be a target column: ${parts.mkString(".")}")
    }
    case other => throw new IllegalArgumentException(
      s"assignment target must be a column reference: $other")
  }

  /** True when the value is exactly the source column of the same key —
    * the no-op `t.k = s.k` delta tolerates in SET lists.
    */
  private def isKeyNoOp(name: String, value: Expression,
      renames: Map[String, String]): Boolean = value match {
    case attr: UnresolvedAttribute => attr.nameParts match {
      case Seq(q, n) if is(q, sourceAlias) => renames.getOrElse(n, n) == name
      case Seq(n) => renames.getOrElse(n, n) == name
      case _ => false
    }
    case _ => false
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val t = DeltaTable.forPath(path, conf = ColumnShim.hadoopConf(spark))
    require(t.version >= 0, s"MERGE target $path does not exist")
    val srcDF0 = ColumnShim.ofRows(spark, sourcePlan)

    // ---- ON condition -> engine key columns (+ source renames) ----
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def sideOf(e: Expression): Option[(Boolean, String)] = e match {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if is(q, targetAlias) => Some((true, n))
        case Seq(q, n) if is(q, sourceAlias) => Some((false, n))
        case _ => None
      }
      case _ => None
    }
    val keyPairs: Seq[(String, String)] = conjuncts(spec.onCondition).map {
      case EqualTo(l, r) => (sideOf(l), sideOf(r)) match {
        case (Some((true, tn)), Some((false, sn))) => (tn, sn)
        case (Some((false, sn)), Some((true, tn))) => (tn, sn)
        case _ => throw new IllegalArgumentException(
          "MERGE ON must be a conjunction of alias-qualified target = " +
            s"source column equalities; got: ${EqualTo(l, r).sql}")
      }
      case other => throw new IllegalArgumentException(
        s"MERGE ON must be equality conjuncts; got: ${other.sql}")
    }
    require(keyPairs.nonEmpty, "MERGE ON produced no key columns")
    val keyCols = keyPairs.map(_._1)
    // differing source key names are renamed to the target's so the
    // engine's name-keyed join sees one vocabulary
    val renames: Map[String, String] =
      keyPairs.filter { case (tn, sn) => tn != sn }
        .map { case (tn, sn) =>
          require(!srcDF0.columns.contains(tn),
            s"cannot rename source key $sn to $tn: source already has $tn")
          sn -> tn
        }.toMap
    val srcDF = renames.foldLeft(srcDF0) { case (df, (sn, tn)) =>
      df.withColumnRenamed(sn, tn)
    }

    // ---- clause inventory ----
    val matchedUpdates = spec.matched.zipWithIndex.collect {
      case (u: UpdateAction, i) => (u.condition, Some(u.assignments), i)
      case (u: UpdateStarAction, i) => (u.condition, None, i)
    }
    val matchedDeletes = spec.matched.zipWithIndex.collect {
      case (d: DeleteAction, i) => (d.condition, i)
    }
    require(matchedUpdates.size <= 1, "at most one WHEN MATCHED UPDATE clause")
    require(matchedDeletes.size <= 1, "at most one WHEN MATCHED DELETE clause")
    require(matchedUpdates.size + matchedDeletes.size == spec.matched.size,
      "unsupported WHEN MATCHED action")
    val inserts = spec.notMatched
    require(inserts.size <= 1, "at most one WHEN NOT MATCHED clause")
    inserts.foreach {
      case a: InsertAction => require(a.condition.isEmpty,
        "conditional WHEN NOT MATCHED INSERT is not supported")
      case a: InsertStarAction => require(a.condition.isEmpty,
        "conditional WHEN NOT MATCHED INSERT is not supported")
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    val nmbsDeletes = spec.notMatchedBySource.map {
      case d: DeleteAction => d
      case other => throw new IllegalArgumentException(
        "only WHEN NOT MATCHED BY SOURCE THEN DELETE is supported, " +
          s"got: $other")
    }
    require(nmbsDeletes.size <= 1,
      "at most one WHEN NOT MATCHED BY SOURCE clause")

    // ---- the clause list: whole-row for unconditioned UPDATE SET * /
    // INSERT * with no matched DELETE, column-wise otherwise ----
    val starUpdate = spec.matched.exists {
      case UpdateStarAction(None) => true
      case UpdateAction(None, _, true) => true
      case _ => false
    }
    val starInsert = spec.notMatched.exists {
      case InsertStarAction(None) => true
      case _ => false
    }
    val clauses =
      if (starUpdate && starInsert && matchedDeletes.isEmpty)
        // the engine aligns the source to the (possibly evolved) target
        // schema by name — extra source columns drop, missing ones null-fill
        DeltaTable.MergeClauses(keyCols, wholeRow = true,
          notMatchedBySourceDelete = nmbsDeletes.headOption.map(_.condition
            .map(c => ColumnShim.column(bareTarget(c))).getOrElse(lit(true))),
          schemaEvolution = schemaEvolution)
      else {
        require(nmbsDeletes.isEmpty, "WHEN NOT MATCHED BY SOURCE requires the " +
          "whole-row UPDATE SET * / INSERT * merge form")
        require(!schemaEvolution,
          "WITH SCHEMA EVOLUTION requires the whole-row merge form")
        val tFields = t.dlog.schema.fieldNames.toSeq
        val setMap: Map[String, Column] = matchedUpdates.headOption match {
          case None => Map.empty
          case Some((_, Some(assignments), _)) =>
            assignments.flatMap { a =>
              val name = assignTarget(a)
              if (keyCols.contains(name)) {
                require(isKeyNoOp(name, a.value, renames),
                  s"SET must not change merge key $name")
                None // the no-op t.k = s.k delta tolerates
              } else Some(name -> colOf(a.value, renames))
            }.toMap
          case Some((_, None, _)) => // UPDATE SET * with a condition
            tFields.filterNot(keyCols.contains).map { n =>
              require(srcDF.columns.contains(n),
                s"UPDATE SET * requires source column $n")
              n -> col(s"s.$n")
            }.toMap
        }
        // first-matching-clause-wins: an UPDATE textually before the
        // DELETE shields rows its condition matches from deletion
        val delCond: Option[Column] = matchedDeletes.headOption.flatMap {
          case (cond, delIdx) =>
            val base = cond.map(colOf(_, renames)).getOrElse(lit(true))
            matchedUpdates.headOption match {
              case Some((uCond, _, updIdx)) if updIdx < delIdx =>
                uCond match {
                  case None => None // unconditioned UPDATE first: DELETE is dead
                  case Some(uc) =>
                    Some(base && not(coalesce(colOf(uc, renames), lit(false))))
                }
              case _ => Some(base)
            }
        }
        val insertValues: Option[Map[String, Column]] = inserts.headOption.map {
          case a: InsertAction =>
            a.assignments.map(as => assignTarget(as) -> colOf(as.value, renames)).toMap
          case _: InsertStarAction =>
            tFields.map { n =>
              require(srcDF.columns.contains(n),
                s"INSERT * requires source column $n")
              n -> col(s"s.$n")
            }.toMap
          case other => throw new IllegalArgumentException(s"unsupported: $other")
        }
        DeltaTable.MergeClauses(keyCols, set = setMap,
          updateCondition = matchedUpdates.headOption.flatMap(_._1).map(colOf(_, renames)),
          matchedDelete = delCond, insert = insertValues)
      }
    t.mergeClauses(spark, srcDF, clauses)
    Seq.empty
  }
}
