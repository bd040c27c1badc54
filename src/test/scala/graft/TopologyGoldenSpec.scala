package graft

import graft.plans.{NodeType, TopologyExtract}

/** Locks the §2.5 topology auto-derivation over the ENTIRE registered
  * query surface: every SparkEntry query must yield a well-formed DAG
  * (sources are TOPIC nodes, every parent edge resolves, exactly one
  * sink), and the flagship word count must collapse to the reference's
  * exact TOPIC→SELECT→GROUPBY→COUNT chain (kstreams/App.java:35-58).
  * Derivation is plan-only — nothing executes.
  */
class TopologyGoldenSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("every registered query derives a well-formed topology DAG") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val topo = TopologyExtract.fromDataFrame(fn(spark, sf), "spark", name).deduped
      val names = topo.nodes.map(_.name).toSet
      assert(topo.nodes.nonEmpty, s"$name: empty topology")
      assert(topo.nodes.exists(_.nodeType == NodeType.Topic),
        s"$name: no TOPIC (source) node")
      val dangling = topo.nodes.flatMap(_.parents).filterNot(names)
      assert(dangling.isEmpty, s"$name: dangling parent edges $dangling")
      val referenced = topo.nodes.flatMap(_.parents).toSet
      val sinks = topo.nodes.map(_.name).filterNot(referenced)
      assert(sinks.size == 1, s"$name: expected one sink, got $sinks")
      // JSON must round-trip through a strict parser (driver publishes it)
      val json = topo.toJson
      assert(json.startsWith("{") && json.contains("\"nodes\":["))
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    }
  }

  test("flagship word count derives the reference's TOPIC>SELECT>GROUPBY>COUNT chain") {
    val topo = TopologyExtract.fromDataFrame(
      SparkEntry.entry(spark), "spark", "wordcount").deduped
    val chain = topo.nodes.map(_.nodeType).mkString(">")
    assert(chain == "Topic>Select>GroupBy>Count", s"got $chain")
    // edges: select←topic, groupby←select, count←groupby
    val byName = topo.nodes.map(n => n.name -> n).toMap
    topo.nodes.sliding(2).foreach { case Seq(up, down) =>
      assert(down.parents == Seq(up.name), s"${down.name} parents ${down.parents}")
    }
    assert(byName.values.count(_.parents.isEmpty) == 1) // single source
  }
}
