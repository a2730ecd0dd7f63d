package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.SparkEntry
import graft.operators.Caches

/** One benchmark run in one fresh JVM, driving the engine only through
  * its public calls: `SparkEntry.queries` to build each query, an action
  * that materialises every output column, `Caches.scope`/`release` around
  * each query, and `SparkEntry.oracleSql` for the correctness check.
  *
  * Sequence: [[WarmPasses]] untimed passes in the timed form, which end
  * set-up; then `--passes` timed passes; then one untimed check pass,
  * which writes each query's output as parquet for the oracle compare and
  * hashes the written copy (the verified result). The check pass's writes
  * and read-backs are harness work, so they sit outside set-up and outside
  * the timed passes. One client thread runs the queries in list order. Every execution's order-insensitive row hash goes to the
  * event log, which the Python side turns into metrics. With `--trace 1`
  * odd passes run with the tracer attached and even passes without,
  * which prices the tracing.
  *
  * Usage: perfbench.Main --data DIR --out DIR --queries q1,q2 --passes N
  *        --trace 0|1 --cores N --local-dir DIR --warehouse DIR
  */
object Main {

  /** Untimed passes before the timed ones. The first pass of a fresh JVM
    * pays for class loading, codegen, the in-process memo builds and the
    * steepest part of JIT compilation; this pass keeps them off the timed
    * ones. */
  val WarmPasses = 1

  /** Order-insensitive content hash: the wrapping sum of per-row xxhash64
    * over every column, plus the row count. The per-partition fold is
    * opaque to Catalyst, so no column is pruned and no sort is dropped. */
  def rowHash(df: DataFrame): (Long, Long) = {
    import df.sparkSession.implicits._
    df.select(xxhash64(df.columns.map(col): _*).as("_h")).as[Long]
      .mapPartitions { rows =>
        var sum = 0L; var n = 0L
        rows.foreach { h => sum += h; n += 1 }
        Iterator.single((sum, n))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((s, n), (ps, pn)) => (s + ps, n + pn) }
  }

  private def hex(h: (Long, Long)): String = f"${h._1}%016x:${h._2}%d"

  private def vmHwmKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val data = opt("data"); val out = opt("out")
    val queries = opt("queries").split(",").toVector.filter(_.nonEmpty)
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")

    // the session settings of graft.Bench; the two directories only keep
    // the run's files inside its own directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.limit.initialNumPartitions", cores)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local-dir"))
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new Recorder
    val tracer = new Tracer(spark, rec)

    val results = Paths.get(out, "results")

    /** The checked form of a query: write the output as parquet for the
      * oracle, then hash the written copy. */
    def checked(name: String, df: DataFrame): (Long, Long) = {
      val path = results.resolve(name).toString
      df.write.mode("overwrite").parquet(path)
      rowHash(spark.read.parquet(path))
    }

    def runQuery(name: String, pass: Int, traced: Boolean, check: Boolean): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = Clock.us()
      var t1 = t0; var t2 = t0
      val (result, scope) = Caches.scope {
        try {
          val df = fn(spark, data)
          t1 = Clock.us()
          val h = if (check) checked(name, df) else rowHash(df)
          t2 = Clock.us()
          Right(h)
        } catch {
          case NonFatal(e) =>
            t2 = Clock.us(); if (t1 == t0) t1 = t2
            Left(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
      }
      val cached = if (traced) tracer.cachedBytes() else -1L
      val t3 = Clock.us()
      scope.release()
      spark.catalog.clearCache()
      val t4 = Clock.us()
      rec.add("kind" -> "exec", "query" -> name, "pass" -> pass,
        "start_us" -> t0, "built_us" -> t1, "executed_us" -> t2,
        "release_start_us" -> t3, "end_us" -> t4,
        "hash" -> result.toOption.map(hex), "error" -> result.left.toOption,
        "cached_bytes" -> cached)
      if (check) rec.add("kind" -> "check", "query" -> name, "hash" -> result.toOption.map(hex),
        "error" -> result.left.toOption, "oracle_sql" -> SparkEntry.oracleSql.get(name))
      result.left.foreach(e => System.err.println(s"[perfbench] $name pass $pass FAILED: $e"))
    }

    def runPass(pass: Int, traced: Boolean = false, check: Boolean = false): Unit = {
      if (traced) tracer.attach()
      val c0 = tracer.compiles()
      val t0 = Clock.us()
      queries.foreach(runQuery(_, pass, traced, check))
      val t1 = Clock.us()
      if (traced) tracer.detach()
      rec.add("kind" -> "pass", "pass" -> pass, "traced" -> traced,
        "start_us" -> t0, "end_us" -> t1, "compiles" -> (tracer.compiles() - c0))
    }

    // untimed passes have negative numbers; set-up ends with the warm ones
    (-WarmPasses until 0).foreach(runPass(_))
    val setupEndMs = System.currentTimeMillis()
    (0 until passes).foreach(p => runPass(p, traced = trace && p % 2 == 1))
    runPass(-1 - WarmPasses, check = true)

    rec.add("kind" -> "run", "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "setup_end_ms" -> setupEndMs, "cores" -> cores, "vmhwm_kb" -> vmHwmKb())
    spark.stop()
    rec.writeTo(Paths.get(out, "events.jsonl").toString)
  }
}
