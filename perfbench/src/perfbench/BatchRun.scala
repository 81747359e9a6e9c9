package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators._

/** Closed-loop batch suite with one client: every query of the list,
  * each run cold, once, in the list's order. Each query is split into its
  * build (the query-function call, which does the eager work) and its
  * exec (the final action: a parquet write of the result, which the
  * oracle check reads afterwards).
  */
object BatchRun {
  private val modules: Seq[(String, Map[String, _])] = Seq(
    "Enrich" -> Enrich.queries, "Relational" -> Relational.queries,
    "Windows" -> Windows.queries, "TextOps" -> TextOps.queries,
    "VectorOps" -> VectorOps.queries, "Multimodal" -> Multimodal.queries,
    "IdOps" -> IdOps.queries, "Functions2" -> Functions2.queries,
    "Sampling" -> Sampling.queries, "GraphOps" -> GraphOps.queries,
    "Analytics" -> Analytics.queries)

  def moduleOf(q: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(q) => m }.getOrElse("Other")

  /** Cold-state protocol, as `graft.Bench.clearResidue`: the three
    * JVM-global memos, the Spark cache and every persisted RDD. */
  def clearResidue(spark: SparkSession): Unit = {
    TextOps.clearGraphCache()
    GraphOps.clearGraphCache()
    VectorOps.clearModelCache()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def run(spark: SparkSession, probe: Probe, names: Seq[String], data: String,
      work: String): Map[String, Any] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val failed = mutable.ArrayBuffer[String]()
    val rows = mutable.ArrayBuffer[Map[String, Any]]()
    def now = System.currentTimeMillis()

    val watch = new HeapWatch
    val root = probe.span(-1, "workload", now)
    for (q <- names) {
      clearResidue(spark)
      val m = moduleOf(q)
      // a traced `enter` drains the listener bus: it stays outside the
      // timed build and exec
      probe.enter(s"$m/$q/build")
      val c0 = Counters.now()
      val s0 = now
      val b0 = System.nanoTime()
      val attempt = scala.util.Try {
        val df = SparkEntry.queries(q)(spark, data)
        val b1 = System.nanoTime()
        val s1 = now
        probe.enter(s"$m/$q/exec")
        val x0 = System.nanoTime()
        val sx = now
        df.write.mode("overwrite").parquet(s"$work/out/$q")
        (b1, s1, x0, sx)
      }
      val e1 = System.nanoTime()
      val s2 = now
      val c1 = Counters.now()
      probe.enter("idle")
      attempt match {
        case scala.util.Success((b1, s1, x0, sx)) =>
          val qs = probe.span(root, q, s0, s2)
          probe.span(qs, "build", s0, s1)
          probe.span(qs, "exec", sx, s2)
          rows += Map("query" -> q, "module" -> m,
            "build_s" -> (b1 - b0) / 1e9, "exec_s" -> (e1 - x0) / 1e9) ++
            Counters.delta(c0, c1)
        case scala.util.Failure(e) =>
          failed += q
          System.err.println(s"[perfbench] $q failed: $e")
      }
    }
    probe.close(root, now)
    val (peakHeap, liveHeap) = watch.stop()
    Map(
      "queries" -> names, "failed" -> failed.toSeq, "runs" -> rows.toSeq,
      "peak_heap_mb" -> peakHeap, "live_heap_mb" -> liveHeap,
      "oracle_sql" -> names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }
}
