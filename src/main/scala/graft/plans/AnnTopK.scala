package graft.plans

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.IndexedDistance
import graft.ann.Metric

/** Transparent ANN rewrite of `ORDER BY dist(col, const) LIMIT k`
  * (reference: the planner integration that makes `ORDER BY v <-> q
  * LIMIT k` use the HNSW index — cost hook `hnsw.c:150-209`, scan
  * `scan.c:24-338`).
  *
  * Spark shape: an optimizer rule (installed via
  * `spark.experimental.extraOptimizations`) matches
  * `Limit(k, Sort(dist ASC, relation…))` where
  *   - the sort key is `l2sq_dist`/`cos_dist` between a column of a
  *     scanned parquet relation and a foldable vector literal, and
  *   - that relation's path has an index registered in [[IndexCatalog]];
  * it then narrows the sort's input with a LEFT SEMI join against the
  * ids of one [[AnnScan]] leaf (planned by [[AnnScanStrategy]] into
  * one task per shard, broadcast into the join). The candidate set is
  * the UNION of the per-shard top-`fetch` lists (`fetch = max(k, ef)`,
  * times the filter over-fetch) — no global merge runs before the
  * join. The original Sort+Limit still runs over those candidate rows
  * and re-ranks them by the expression's exact distance, so column
  * output and exact ordering are preserved. Whenever the index's
  * distance is bit-equal to the expression's (every non-PQ index:
  * `DistanceProps` pins it), the global top-`fetch` merge is a subset
  * of the union and the union's top-k is the merge's top-k, so the rows
  * are identical to a merged candidate set; under a `WHERE` or with a
  * PQ-in-index the union is a superset, so recall can only rise. Like
  * the reference (`xs_recheckorderby=false`), the overall result is
  * approximate with the index's recall. Candidate breadth: derived from
  * `graft.ann.targetRecall` via the index's autotune_results artifact
  * when set ([[AnnTopK.TargetRecallConfKey]]), else the pinned
  * `graft.ann.ef` conf (default 64, reference options.h:22-25).
  *
  * A `WHERE` between the sort and the scan composes with the index the
  * way the reference composes quals with the index scan
  * (hnsw_select.sql:50-52: scan returns candidates, Postgres applies
  * quals): the filter stays in place — it applies to the semi-joined
  * candidate rows — and the rule over-fetches candidates by
  * `graft.ann.filterOverfetch` (default 4x) to compensate for the
  * unknown filter selectivity.
  */
object AnnTopK {

  /** A registered index. For `Metric.Hamming` the index must have been
    * built over [[graft.ann.HammingView.signView]] of the int-vector
    * column named `vecCol` (the rule expands query literals with the
    * matching bit order before probing). */
  case class Entry(indexPath: String, idCol: String, vecCol: String,
      metric: Metric)

  /** Registered indexes, keyed by the source's root path. */
  object IndexCatalog {
    private[plans] val entries = TrieMap[String, Entry]()
    def register(sourcePath: String, entry: Entry): Unit =
      entries(normalize(sourcePath)) = entry
    def unregister(sourcePath: String): Unit =
      entries.remove(normalize(sourcePath))
    def lookup(paths: Seq[String]): Option[Entry] =
      paths.map(normalize).flatMap(entries.get).headOption
    private def normalize(p: String): String = {
      val s = p.stripPrefix("file:").stripSuffix("/")
      // a relative registration must match the absolute rootPaths the
      // scan relation reports (schemes other than file: pass through)
      if (s.startsWith("/") || s.contains(":")) s
      else new java.io.File(s).getAbsolutePath
    }
  }

  val EfConfKey = "graft.ann.ef"

  /** Recall target for DERIVED search breadth: when set (e.g. "0.9")
    * and the matched index carries an `autotune_results` artifact
    * ([[graft.ann.Autotune.runAndCreate]] exports it), ef resolves to
    * the cheapest measured variant meeting the target — the Spark
    * analog of the reference's cost-estimation + autotune pairing
    * (lantern_cli/src/index_autotune/mod.rs:161-186) — instead of the
    * pinned [[EfConfKey]] (which silently decays as the corpus grows:
    * ef=64 measured recall 0.795 at 200k vectors). Falls back to
    * [[EfConfKey]]/64 when no artifact exists or no variant
    * qualifies. */
  val TargetRecallConfKey = "graft.ann.targetRecall"

  /** Candidate over-fetch multiplier when a Filter sits between the
    * distance sort and the indexed scan (default 4). */
  val FilterOverfetchKey = "graft.ann.filterOverfetch"

  /** The ef the rewrite will use for `indexPath` under the session's
    * conf: artifact-derived for [[TargetRecallConfKey]] when possible,
    * else [[EfConfKey]], else 64. Derivation goes through
    * [[graft.ann.Autotune.efForTargetCached]] — fingerprint-guarded
    * (autotune_results mtime + manifest count), so a re-autotune of
    * the same path or an append that grows the index drops the cached
    * hit and re-derives instead of serving an ef measured on a smaller
    * or different graph; a miss is never cached, so an artifact
    * exported after the first query takes effect on the next
    * resolution. */
  private[graft] def resolveEf(spark: SparkSession, indexPath: String): Int = {
    val target = spark.conf.getOption(TargetRecallConfKey)
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
    target.flatMap(graft.ann.Autotune.efForTargetCached(spark, indexPath, _))
      .orElse(spark.conf.getOption(EfConfKey)
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption))
      .getOrElse(64)
  }

  /** Install the rule and [[AnnScanStrategy]] once per session. Both
    * installs are check-then-set on the session's `ExperimentalMethods`
    * and hold its lock, so racing callers neither drop nor duplicate an
    * entry. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraOptimizations.exists(_.isInstanceOf[AnnTopKRule]))
        ex.extraOptimizations = ex.extraOptimizations :+ AnnTopKRule(spark)
      installStrategy(spark, AnnScanStrategy)
    }
  }

  case class AnnTopKRule(spark: SparkSession) extends Rule[LogicalPlan] {

    private def relationPaths(plan: LogicalPlan): Seq[String] =
      plan.collectLeaves().flatMap {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }

    /** Casts that preserve the ordering of every distance a graft
      * expression can emit (int/long exactly representable targets). */
    private def wideningCast(c: Cast): Boolean = {
      import org.apache.spark.sql.types._
      (c.child.dataType, c.dataType) match {
        case (IntegerType, LongType | FloatType | DoubleType) => true
        case (LongType, DoubleType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
    }

    /** The index metric's query vector from a foldable vector literal. */
    private def queryVector(e: Expression, metric: Metric): Option[Array[Float]] =
      if (e.foldable) {
        e.eval() match {
          case a: ArrayData =>
            try Some(metric.queryVector(a))
            catch { case NonFatal(_) => None }
          case _ => None
        }
      } else None

    /** (vec attribute, query vector, metric) from a distance sort key.
      * A hamming key's int-array literal expands to the sign view the
      * index was built over ([[Metric.queryVector]]); the sort may also
      * wrap the int distance in a Cast (e.g. `.cast("double")`). */
    private def distanceKey(e: Expression)
        : Option[(AttributeReference, Array[Float], Metric)] = e match {
      case d: IndexedDistance => (d.left, d.right) match {
        case (a: AttributeReference, q) => queryVector(q, d.metric).map((a, _, d.metric))
        case (q, a: AttributeReference) => queryVector(q, d.metric).map((a, _, d.metric))
        case _ => None
      }
      // unwrap ONLY order-preserving numeric widenings (the library's
      // `.cast("double")` on the int hamming distance): an arbitrary
      // Cast (string, narrowing) changes the sort order, and narrowing
      // by the numeric candidate top-k would silently return wrong rows
      case c: Cast if wideningCast(c) => distanceKey(c.child)
      case _ => None
    }

    /** Resolve the sort key through any depth of Project aliasing
      * (`filter(...).withColumn("dist", ...).select(...)` stacks
      * several Projects between the Sort and the scan). */
    private def resolveKey(key: Expression, child: LogicalPlan): Option[Expression] =
      key match {
        case attr: AttributeReference =>
          child.collect { case p: Project => p.projectList }.flatten
            .collectFirst {
              case al @ Alias(aliased, _) if al.exprId == attr.exprId => aliased
            }
            .flatMap(resolveKey(_, child)) // alias of an alias
        case other => Some(other)
      }

    override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      // the optimizer may push a final column-pruning Project between
      // the limit and the sort, so match both shapes
      case limit @ GlobalLimit(IntegerLiteral(k), LocalLimit(_, inner)) =>
        val parts = inner match {
          case s: Sort => Some((None: Option[Project], s))
          case p @ Project(_, s: Sort) => Some((Some(p), s))
          case _ => None
        }
        parts match {
          case Some((projOpt,
              sort @ Sort(SortOrder(key, Ascending, _, _) +: _, true, child, _))) =>
            // An optimizer rule must never fail the query: a malformed
            // conf value or a vanished index directory falls back to the
            // exact plan instead of erroring inside optimization.
            try rewriteOrKeep(limit, projOpt, sort, child, key, k)
            catch {
              case e: Exception =>
                logWarning(s"ANN rewrite skipped: ${e.getMessage}")
                limit
            }
          case _ => limit
        }
    }

    /** The candidate id join key must compare as bigint (the index emits
      * long ids): narrower integral id columns are cast up; non-integral
      * ids skip the rewrite (a type-mismatched EqualTo would fail at
      * physical planning, outside this rule's fallback). */
    private def longJoinKey(idAttr: AttributeReference): Option[Expression] =
      idAttr.dataType match {
        case org.apache.spark.sql.types.LongType => Some(idAttr)
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType =>
          Some(Cast(idAttr, org.apache.spark.sql.types.LongType))
        case _ => None
      }

    private def rewriteOrKeep(limit: GlobalLimit, projOpt: Option[Project],
        sort: Sort, child: LogicalPlan, key: Expression, k: Int): LogicalPlan = {
        val rewritten = for {
          resolved <- resolveKey(key, child)
          (vecAttr, qVec, metric) <- distanceKey(resolved)
          entry <- IndexCatalog.lookup(relationPaths(child))
          if entry.metric == metric && vecAttr.name == entry.vecCol
          // the rule runs in a fixed-point batch: don't re-narrow a
          // sort whose input already holds an index probe
          if !child.exists(_.isInstanceOf[AnnScan])
          idAttr <- child.output.collectFirst {
            case a: AttributeReference if a.name == entry.idCol => a
          }
          idKey <- longJoinKey(idAttr)
        } yield {
          val ef = resolveEf(spark, entry.indexPath)
          // a WHERE between the sort and the scan drops an unknown share
          // of the index's candidates (the index ranks the unfiltered
          // corpus - reference behavior: scan returns candidates,
          // Postgres applies quals, hnsw_select.sql:50-52), so over-fetch
          // by graft.ann.filterOverfetch when a filter is present
          val hasFilter = child.collectFirst { case f: Filter => f }.isDefined
          val factor =
            if (!hasFilter) 1
            else spark.conf.getOption(FilterOverfetchKey)
              .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
              .getOrElse(4)
              .max(1) // a non-positive conf must not empty the candidates
          val fetch = math.max(k, ef) * factor
          val scan = AnnScan(entry.indexPath, qVec, fetch, math.max(ef, fetch))
          val candId = scan.output.head
          val narrowed = Join(child, Project(Seq(candId), scan), LeftSemi,
            Some(EqualTo(idKey, candId)), JoinHint.NONE)
          val newSort = sort.copy(child = narrowed)
          limit.copy(child = LocalLimit(Literal(k),
            projOpt.fold(newSort: LogicalPlan)(p => p.copy(child = newSort))))
        }
        rewritten.getOrElse(limit)
    }
  }
}
