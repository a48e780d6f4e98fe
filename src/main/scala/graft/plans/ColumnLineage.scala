package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LeafNode, LogicalPlan, Union}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}

/** Column-level lineage: for every output column of a DataFrame,
  * which (source, column) pairs feed its VALUE -- the governance /
  * impact-analysis surface ("which curated columns does this export
  * read?", "what breaks if the feed drops `market_cap`?").
  *
  * Derivation walks the ANALYZED logical plan bottom-up, keyed by
  * expression id (names alone are ambiguous across self-joins):
  * file-backed leaves name themselves by their root path, computed
  * columns (Project / Aggregate / Window aliases) inherit the union
  * of their expression's references, generators (explode) inherit
  * the generator input's lineage, unions merge positionally, and
  * everything else passes attributes through. Temp views, SQL views,
  * time-travel `name_v{v}` views, and session-catalog tables resolve
  * to their defining plans in the ANALYZED tree, so the walk
  * continues into the underlying store columns (spec-pinned,
  * including the self-join re-id case). Driver-side plan analysis
  * only -- no job runs, any plan size.
  *
  * Scope: VALUE lineage. Filter predicates, join conditions, and
  * window orderings influence which ROWS appear, not how a value is
  * computed, so their inputs are deliberately not attributed to
  * every surviving column (the standard direct-lineage cut --
  * control lineage would mark whole tables as feeding every column).
  * Scalar subqueries inside expressions are likewise not traversed.
  */
object ColumnLineage {

  type Sources = Set[(String, String)]

  /** Lineage for each output column, in output order. */
  def lineage(df: DataFrame): Seq[(String, Sources)] = {
    val plan = df.queryExecution.analyzed
    val m = walk(plan)
    plan.output.map(a => a.name -> m.getOrElse(a.exprId, Set.empty[(String, String)]))
  }

  /** The same lineage as a small DataFrame (column, source,
    * source_column) for SQL-side inspection / cataloguing. */
  def lineageDf(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lineage(df).flatMap { case (c, srcs) =>
      srcs.toSeq.sortBy(identity).map { case (s, sc) => (c, s, sc) }
    }.toDF("column", "source", "source_column")
  }

  /** A versioned-store data dir (`<root>/<table>/_data/v3-hash/...`)
    * folds to its LOGICAL table dir `<root>/<table>`: governance asks
    * about tables, not the physical version dirs copy-on-write cycles
    * through -- and it makes every commit of one table attribute to
    * ONE source instead of a version-dir per leaf. */
  private def logicalRoot(path: String): String = {
    val i = path.indexOf("/_data/")
    if (i >= 0) path.substring(0, i) else path
  }

  /** ALL root paths of a file-backed leaf (a multi-dir scan is one
    * relation with many roots -- naming just the first would silently
    * under-attribute), folded to logical table dirs. */
  private def sourceNames(l: LeafNode): Set[String] = l match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => roots(fs.location, lr.relation.toString)
      case other => Set(other.toString)
    }
    // a versioned-store read: one v2 relation over the snapshot's files
    case DataSourceV2Relation(ft: FileTable, _, _, _, _, _) =>
      roots(ft.fileIndex, ft.name())
    case other => Set(other.nodeName)
  }

  private def roots(index: FileIndex, orElse: String): Set[String] = {
    val rs = index.rootPaths.map(p => logicalRoot(p.toString))
    if (rs.nonEmpty) rs.toSet else Set(orElse)
  }

  private def walk(p: LogicalPlan): Map[ExprId, Sources] = p match {
    case l: LeafNode =>
      val srcs = sourceNames(l)
      l.output.map(a => a.exprId -> srcs.map(_ -> a.name)).toMap
    case u: Union =>
      val childMaps = u.children.map(walk)
      val positional = u.output.zipWithIndex.map { case (a, i) =>
        a.exprId -> u.children.zip(childMaps).flatMap { case (c, m) =>
          if (i < c.output.size) m.getOrElse(c.output(i).exprId, Set.empty)
          else Set.empty[(String, String)]
        }.toSet
      }.toMap
      positional
    case g: Generate =>
      val below = g.children.map(walk).foldLeft(Map.empty[ExprId, Sources])(_ ++ _)
      val genSrc: Sources =
        g.generator.references.toSeq
          .flatMap(r => below.getOrElse(r.exprId, Set.empty)).toSet
      below ++ g.generatorOutput.map(a => a.exprId -> genSrc)
    case other =>
      val below = other.children.map(walk)
        .foldLeft(Map.empty[ExprId, Sources])(_ ++ _)
      // every Alias anywhere in this node's expressions defines a new
      // attribute from its child expression's references (Project,
      // Aggregate, Window, and expression-defining nodes alike)
      val defined = other.expressions.flatMap { e =>
        e.collect { case al: Alias =>
          al.exprId -> al.child.references.toSeq
            .flatMap(r => below.getOrElse(r.exprId, Set.empty)).toSet
        }
      }.toMap
      below ++ defined
  }
}
