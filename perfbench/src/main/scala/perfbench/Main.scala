package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `--workload <bulk_build|serve_topk|lsm_churn> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints the report, then one JSON line: with `--trace 0` the end-to-end
  * metrics, with `--trace 1` the per-layer metrics of a traced pass (and
  * the trace itself goes to `<work>/trace-<workload>-<seed>.json`). Exits
  * 1 when a correctness check fails. */
object Main {
  /** Engine parallelism: `local[4]`, and at most four client threads. */
  val Cores = 4

  /** Set-up repetitions: `n` for a steady median, one when traced
    * (set-up time is not a per-layer metric). */
  def setups(ctx: Ctx, n: Int): Int = if (ctx.traced) 1 else n

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "bulk_build" -> BulkBuild.run,
    "serve_topk" -> ServeTopk.run,
    "lsm_churn" -> LsmChurn.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", 200000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = new Ctx(spark, workload, seed, seconds, traced, work)
    val outcome = try run(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    val correct = outcome.correct && ctx.allChecksPassed
    if (traced) outcome.metrics.foreach(m => ctx.note(m.name, m.value, m.unit))
    spark.stop()
    val metrics = outcome.metrics.map(m =>
      s""""${m.name}":{"value":${Main.num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},"metrics":{$metrics}}""")
    if (!correct) sys.exit(1)
  }

  /** JSON has no NaN or infinity. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"metric is not a finite number: $v") else v.toString
}
