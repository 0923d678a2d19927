package perfbench

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch workloads: a fixed list of registered queries, one at a time.
  *
  * Set-up runs every query once in name order and writes its rows as
  * parquet for the fingerprint check; that pass is also the warm-up (it
  * builds the persisted index artifacts and compiles each plan). The
  * measured section then repeats passes in a seeded order, each query
  * looked up in `SparkEntry.queries`, constructed (which runs its eager
  * cuts) and executed through the `noop` sink, until `seconds` have passed.
  */
final class Batch(spark: SparkSession, a: Main.Args, rec: Records, tracer: Option[Tracer]) {

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def run(): Unit = {
    require(a.queries.nonEmpty, "--queries is empty")
    var constructMs = 0d
    a.queries.sorted.foreach { n =>
      val path = s"${a.work}/results/$n"
      val t0 = Clock.nowMs
      val res = Try {
        val df = SparkEntry.queries(n)(spark, a.data)
        constructMs += Clock.nowMs - t0
        df.write.mode("overwrite").parquet(path)
      }
      rec.emit("result", "name" -> n, "path" -> path, "ok" -> res.isSuccess,
        "error" -> res.failed.toOption.map(message))
    }
    rec.emit("setup", "feed_s" -> 0d, "index_s" -> constructMs / 1000, "end_ms" -> Clock.nowMs)

    val rnd = new scala.util.Random(a.seed)
    Tracer.within(tracer, s"workload ${a.workload}", "workload") {
      val measureStart = Clock.nowMs
      var pass = 0
      while (Clock.nowMs - measureStart < a.seconds * 1000) {
        val order = rnd.shuffle(a.queries)
        val p0 = Clock.nowMs
        Tracer.within(tracer, s"pass $pass", "workload") {
          order.foreach(n => runQuery(pass, n))
        }
        rec.emit("pass", "pass" -> pass, "start_ms" -> p0, "end_ms" -> Clock.nowMs)
        pass += 1
      }
      rec.emit("measured_end", "t_ms" -> Clock.nowMs)
    }
  }

  private def runQuery(pass: Int, name: String): Unit = {
    val t0 = Clock.nowMs
    var t1, t2 = t0
    val res = Try(Tracer.within(tracer, s"query $name", "queries") {
      val f = SparkEntry.queries(name)
      t1 = Clock.nowMs
      val df = Tracer.within(tracer, "construct", "operators")(f(spark, a.data))
      t2 = Clock.nowMs
      Tracer.within(tracer, "execute", "queries") {
        df.write.format("noop").mode("overwrite").save()
      }
    })
    val t3 = Clock.nowMs
    rec.emit("query", "pass" -> pass, "name" -> name, "start_ms" -> t0, "end_ms" -> t3,
      "lookup_ms" -> (t1 - t0), "construct_ms" -> (t2 - t1), "execute_ms" -> (t3 - t2),
      "ok" -> res.isSuccess, "error" -> (res match {
        case Failure(e) => Some(message(e))
        case Success(_) => None
      }))
  }
}
