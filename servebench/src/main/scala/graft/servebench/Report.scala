package graft.servebench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.servebench.Metrics.Table
import graft.servebench.ServeBench.TracedOp

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Writes a run's results: a JSON file with the environment and every metric,
  * the traced run's spans as JSON lines, a table on stdout, and the one-line
  * result object that ends stdout.
  */
object Report {
  private val mapper = CatalogModel.mapper

  private def metricsJson(t: Table): ObjectNode = {
    val n = mapper.createObjectNode()
    t.foreach { case (k, (v, u)) => n.putObject(k).put("value", v).put("unit", u) }
    n
  }

  def writeResult(path: Path, env: mutable.LinkedHashMap[String, Any], metrics: Table, perOp: Table,
                  failures: Seq[String], attempted: Int, failed: Int, correct: Boolean,
                  samples: Seq[Seq[ServeBench.Sample]]): Unit = {
    val n = mapper.createObjectNode()
    val e = n.putObject("env")
    env.foreach {
      case (k, v: Long) => e.put(k, v)
      case (k, v: Int) => e.put(k, v)
      case (k, v: Boolean) => e.put(k, v)
      case (k, v) => e.put(k, v.toString)
    }
    n.put("correct", correct).put("attempted", attempted).put("failed", failed)
    n.set[ObjectNode]("metrics", metricsJson(metrics))
    n.set[ObjectNode]("per_op", metricsJson(perOp))
    // each client's requests in order: [kind, ms, ok]
    val cs = n.putArray("samples")
    samples.foreach { c =>
      val arr = cs.addArray()
      c.foreach(x => arr.addArray().add(x.kind).add(x.ms).add(x.ok))
    }
    val f = n.putArray("failures")
    failures.take(100).foreach(f.add)
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter.writeValueAsString(n))
    ()
  }

  /** Every span of the traced requests, with its parent, one JSON object a line. */
  def writeSpans(path: Path, ops: Seq[TracedOp], tracer: Tracer): Unit = {
    val byOp = tracer.spans.groupBy(_.op)
    val w = Files.newBufferedWriter(path)
    try ops.filter(_.traced).foreach { o =>
      val children = byOp.getOrElse(o.n, Nil)
      val parents = SpanTree.parents(o.request, children)
      (o.request +: children).foreach { s =>
        w.write(mapper.createObjectNode().put("id", s.id).put("op", s.op).put("kind", o.op.kind)
          .put("parent", parents(s.id)).put("name", s.name).put("start_us", s.startUs)
          .put("end_us", s.endUs).toString)
        w.newLine()
      }
    } finally w.close()
  }

  def printTable(workload: String, env: mutable.LinkedHashMap[String, Any], metrics: Table): Unit = {
    println(s"env ${env.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    metrics.foreach { case (k, (v, u)) =>
      println(f"$workload%-12s $k%-32s $v%14.4f $u")
    }
  }

  /** The last line of stdout. */
  def printFinal(correct: Boolean, attempted: Int, failed: Int, metrics: Table): Unit = {
    val n = mapper.createObjectNode()
    n.put("correct", correct).put("attempted", attempted).put("failed", failed)
    n.set[ObjectNode]("metrics", metricsJson(metrics))
    println(mapper.writeValueAsString(n))
    System.out.flush()
  }
}
