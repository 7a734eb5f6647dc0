package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.{GraftFunctions, Queries, Tables}

/** The recorded answer of one query over the benchmark fixture, plus what
  * its plans were seen to read and call. */
final case class Known(digest: Digest, tables: Seq[String], kernels: Seq[String])

/** `expected.json`: per query, the digest recorded at a commit where the
  * DuckDB oracle (`tools/check.py`) passes the same queries on the same
  * fixture, and the tables and native kernels its plans touch. */
final class Expected(val queries: Map[String, Known]) {
  def rows(k: String): Option[Long] = queries.get(k).map(_.digest.rows)
}

object Expected {
  private val mapper = new ObjectMapper()

  def load(path: String): Expected = {
    val f = new java.io.File(path)
    if (!f.exists) return new Expected(Map.empty)
    val q = mapper.readTree(f).path("queries")
    new Expected(q.fieldNames.asScala.map { k =>
      val n = q.get(k)
      def strs(f: String) = n.path(f).elements.asScala.map(_.asText).toSeq
      k -> Known(Digest(n.get("rows").asLong, n.get("hash").asText),
        strs("tables"), strs("kernels"))
    }.toMap)
  }

  /** Registered SQL names of the engine's native kernels. */
  lazy val kernelNames: Seq[String] =
    GraftFunctions.all.map(_._1.funcName).filterNot(_ == "asof_match")

  /** Runs each query of `workload` once, untimed, and writes its digest and
    * the tables and kernels its SQL executions show into `path`, keeping
    * the entries of other workloads. */
  def record(ctx: Ctx, workload: String, path: String): Unit = {
    val sc = ctx.spark.sparkContext
    val found = Reads.queries(workload).get.map { k =>
      sc.setJobGroup(s"record:$k:", k, false)
      val d = try Digest.of(Queries.byName(k).build(ctx.spark, ctx.dir))
        finally sc.clearJobGroup()
      k -> d
    }
    ctx.stats.drain(sc)
    val f = new java.io.File(path)
    val root = if (f.exists) mapper.readTree(f).asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    val qs = Option(root.get("queries")).map(_.asInstanceOf[ObjectNode])
      .getOrElse(root.putObject("queries"))
    found.foreach { case (k, d) =>
      val plans = ctx.stats.plans(s"record:$k:")
      val n = qs.putObject(k)
      n.put("workload", workload)
      n.put("rows", d.rows)
      n.put("hash", d.hash)
      val ts = n.putArray("tables")
      Tables.names.filter(t => plans.exists(_.contains(s"/$t.parquet"))).foreach(ts.add)
      val ks = n.putArray("kernels")
      kernelNames.filter(x => plans.exists(_.contains(x + "("))).foreach(ks.add)
      ctx.report(k) = s"""{"rows": ${d.rows}, "hash": "${d.hash}"}"""
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }
}
