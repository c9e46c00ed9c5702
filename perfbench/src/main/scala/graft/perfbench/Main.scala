package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.Engine

/** JVM side of the benchmark. `run.py` generates the CDC inputs, starts
  * this main with `--workload --work --seconds --trace` plus the workload's
  * own arguments, and turns the raw measurements it writes to
  * `<work>/jvm.json` into metrics and output checks. */
object Main {
  /** Peak resident set of this JVM, from /proc/self/status (kB). */
  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val trace = o.getOrElse("trace", "0") == "1"
    val t0 = System.nanoTime()
    val spark = Engine.session("graft-perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val fields: Seq[(String, Any)] =
      try o("workload") match {
        case "cdc_trickle" => Cdc.run(spark, o, trace)
        case "batch_analytics" => Batch.run(spark, o)
        case w => Seq("error" -> s"unknown workload $w")
      } catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          Seq("error" -> sw.toString)
      }
    tracer.foreach(_.detach())
    val out = Json.obj(Seq("session_s" -> sessionS,
      "vm_hwm_kb" -> vmHwmKb(),
      "cpus" -> spark.sparkContext.defaultParallelism) ++ fields ++
      tracer.map(t => "trace" -> Json.Raw(t.json)): _*)
    Files.write(Paths.get(o("work"), "jvm.json"), out.getBytes("UTF-8"))
    spark.stop()
  }
}
