package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Topology metadata model (SURVEY.md §2.5/§7 B5) — the reference's
  * signature capability: a self-describing dataflow DAG published so a UI
  * can render the pipeline (TopologyBuilder, kstreams/App.java:35-58).
  *
  * This is metadata ABOUT a dataflow, not an executable plan. Node
  * vocabulary mirrors the reference's NodeType (TOPIC/SELECT/GROUPBY/
  * COUNT) plus the relational extensions our engine actually runs.
  */
object NodeType extends Enumeration {
  val Topic, Select, GroupBy, Count, Join, Window, Sort = Value
}

object Representation extends Enumeration {
  val Table, Stream = Value
}

/** One DAG node: name, type, free-text description, representation, and
  * parent edges (by node name). Duplicate names are tolerated, last wins —
  * the reference declares two "groupby" nodes (kstreams/App.java:39-48).
  */
case class Node(name: String, nodeType: NodeType.Value,
                description: String = "",
                representation: Representation.Value = Representation.Table,
                parents: Seq[String] = Nil) {
  def toJson: String = {
    import graft.Json.{quote => q}
    s"""{"name":${q(name)},"type":${q(nodeType.toString.toUpperCase)},""" +
      s""""description":${q(description)},""" +
      s""""representation":${q(representation.toString.toUpperCase)},""" +
      s""""parents":[${parents.map(q).mkString(",")}]}"""
  }
}

case class Topology(appType: String, appName: String, nodes: Seq[Node]) {
  /** Last-wins de-dup by name (reference builder tolerance, SURVEY §2.5). */
  def deduped: Topology =
    copy(nodes = nodes.reverse.distinctBy(_.name).reverse)

  def toJson: String = {
    import graft.Json.{quote => q}
    s"""{"appType":${q(appType)},"appName":${q(appName)},""" +
      s""""nodes":[${deduped.nodes.map(_.toJson).mkString(",")}]}"""
  }
}

/** Fluent builder mirroring the reference's
  * `TopologyBuilder.start(...).withTopic(...).endNode()...build()`
  * (kstreams/App.java:35-58).
  */
class TopologyBuilder private (appType: String, appName: String) {
  private var nodes = Vector.empty[Node]
  private var current: Option[Node] = None

  private def start(n: Node): TopologyBuilder = { endNode(); current = Some(n); this }

  def withTopic(name: String): TopologyBuilder = start(Node(name, NodeType.Topic))
  def withNode(name: String, t: NodeType.Value): TopologyBuilder = start(Node(name, t))
  def withDescription(d: String): TopologyBuilder =
    { current = current.map(_.copy(description = d)); this }
  def withRepresentation(r: Representation.Value): TopologyBuilder =
    { current = current.map(_.copy(representation = r)); this }
  def withParent(p: String*): TopologyBuilder =
    { current = current.map(n => n.copy(parents = n.parents ++ p)); this }
  def endNode(): TopologyBuilder =
    { current.foreach(n => nodes :+= n); current = None; this }
  def build(): Topology = { endNode(); Topology(appType, appName, nodes) }
}

object TopologyBuilder {
  def start(appType: String, appName: String): TopologyBuilder =
    new TopologyBuilder(appType, appName)
}

/** Auto-derivation of a Topology from a DataFrame's analyzed logical plan
  * (SURVEY §4.3.1): a stable collapse of Catalyst nodes onto the reference
  * vocabulary — scans→TOPIC, project/filter/generate→SELECT (collapsed
  * runs), Aggregate→GROUPBY+COUNT pair (the reference splits them,
  * kstreams/App.java:44-53), Join→JOIN, Window→WINDOW, Sort→SORT.
  * Pure function over LogicalPlan; no Catalyst rule needed (we map plan →
  * metadata, not plan → plan).
  */
object TopologyExtract {

  def fromDataFrame(df: DataFrame, appType: String, appName: String): Topology =
    fromLogicalPlan(df.queryExecution.analyzed, appType, appName)

  /** Plan-level entry point — used by the streaming listener, whose
    * hook hands it a running query's analyzed plan, not a DataFrame.
    */
  def fromLogicalPlan(plan: LogicalPlan, appType: String, appName: String): Topology = {
    val (nodes, _, _) = walk(plan, 0)
    Topology(appType, appName, nodes)
  }

  /** Returns (nodes, name-of-top-node, next-counter). Children first, so
    * parent edges point upstream (source → sink direction as in the
    * reference's withParent chains).
    */
  private def walk(plan: LogicalPlan, n0: Int): (Vector[Node], String, Int) = {
    def emit(acc: Vector[Node], parents: Seq[String], name: String,
             t: NodeType.Value, desc: String, n: Int): (Vector[Node], String, Int) =
      (acc :+ Node(name, t, desc, Representation.Table, parents), name, n)

    plan match {
      case r: LogicalRelation =>
        val name = s"scan_$n0"
        emit(Vector.empty, Nil, name, NodeType.Topic,
          r.relation.toString.takeWhile(_ != '@'), n0 + 1)
      case l: LeafNode =>
        emit(Vector.empty, Nil, s"source_$n0", NodeType.Topic,
          l.nodeName, n0 + 1)
      case a: Aggregate =>
        val (cn, cTop, n1) = walk(a.child, n0)
        val gname = s"groupby_$n1"
        val keys = a.groupingExpressions.map(_.sql).mkString(", ")
        val g = Node(gname, NodeType.GroupBy, s"group by $keys",
          Representation.Table, Seq(cTop))
        val cname = s"count_${n1 + 1}"
        val aggs = a.aggregateExpressions.map(_.sql).take(4).mkString(", ")
        val c = Node(cname, NodeType.Count, aggs, Representation.Table, Seq(gname))
        (cn :+ g :+ c, cname, n1 + 2)
      case j: Join =>
        val (ln, lTop, n1) = walk(j.left, n0)
        val (rn, rTop, n2) = walk(j.right, n1)
        val name = s"join_$n2"
        (ln ++ rn :+ Node(name, NodeType.Join,
          j.joinType.sql, Representation.Table, Seq(lTop, rTop)), name, n2 + 1)
      case w: Window =>
        val (cn, cTop, n1) = walk(w.child, n0)
        val name = s"window_$n1"
        (cn :+ Node(name, NodeType.Window, "", Representation.Table, Seq(cTop)), name, n1 + 1)
      case s: Sort =>
        val (cn, cTop, n1) = walk(s.child, n0)
        val name = s"sort_$n1"
        (cn :+ Node(name, NodeType.Sort, "", Representation.Table, Seq(cTop)), name, n1 + 1)
      case p @ (_: Project | _: Filter | _: Generate) =>
        // Collapse a run of row-level transforms into one SELECT node.
        var bottom: LogicalPlan = p
        while (bottom.isInstanceOf[Project] || bottom.isInstanceOf[Filter] ||
          bottom.isInstanceOf[Generate]) bottom = bottom.children.head
        val (cn, cTop, n1) = walk(bottom, n0)
        val name = s"select_$n1"
        (cn :+ Node(name, NodeType.Select, p.nodeName.toLowerCase,
          Representation.Table, Seq(cTop)), name, n1 + 1)
      case other if other.children.size == 1 =>
        walk(other.children.head, n0)
      case other =>
        // Multi-child plans outside the vocabulary (e.g. Union): chain all.
        var n = n0
        var acc = Vector.empty[Node]
        var tops = Vector.empty[String]
        other.children.foreach { c =>
          val (cn, t, n2) = walk(c, n); acc ++= cn; tops :+= t; n = n2
        }
        val name = s"select_$n"
        (acc :+ Node(name, NodeType.Select, other.nodeName.toLowerCase,
          Representation.Table, tops), name, n + 1)
    }
  }
}
