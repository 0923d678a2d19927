package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** Wall clock with sub-millisecond resolution: epoch milliseconds anchored
  * once, advanced by `nanoTime`, so every record shares one time base.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Append-only JSONL record log: the JVM side records raw events (ticks,
  * batches, query runs, spans) and `run.py` turns them into metrics.
  */
final class Records(path: String) {
  private val out = new PrintWriter(new File(path), StandardCharsets.UTF_8)

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println(Json.obj(("type" -> kind) +: fields))
  }
  def close(): Unit = synchronized(out.close())
}

object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Benchmark JVM entry: one workload in one `local[cores]` session.
  *
  * {{{
  * perfbench.Main --workload cdc_live --seed 1 --seconds 10 --trace 0
  *   --data <tables dir> --work <scratch dir> --records <out.jsonl>
  *   [--cores N] [--queries a,b,c] [--drains N]
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, records: String, cores: Int,
                        queries: Seq[String], drains: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("records"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      kv.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      kv.get("drains").map(_.toInt).getOrElse(0))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB; 0 where /proc is absent. */
  def peakRssKb(): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0L
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
      }.getOrElse(0L)
      finally src.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Records(a.records)
    val t0 = Clock.nowMs
    val spark = session(a)
    rec.emit("session", "start_ms" -> t0, "end_ms" -> Clock.nowMs, "cores" -> a.cores)
    val tracer = if (a.trace) Some(new Tracer(spark, rec).register()) else None
    try {
      a.workload match {
        case "cdc_live" => new Cdc(spark, a, rec, tracer).live()
        case "cdc_catchup" => new Cdc(spark, a, rec, tracer).catchup()
        case "graph_gates" | "query_sweep" => new Batch(spark, a, rec, tracer).run()
        case other => sys.error(s"unknown workload: $other")
      }
    } catch {
      case e: Throwable =>
        rec.emit("fatal", "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        throw e
    } finally {
      tracer.foreach(_.finish())
      rec.emit("rss", "vmhwm_kb" -> peakRssKb())
      rec.close()
      spark.stop()
    }
  }
}
