package graft.perfbench

import java.io.IOException
import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One benchmark run in a fresh JVM: set up, check, then a closed loop.
  *
  * The loop has one client: it builds a query the way a user calls
  * graft, `SparkEntry.queries(name)(spark, dir)`, runs it through the
  * noop sink, and only then sends the next one. Each timed pass visits
  * every query of the workload once, in an order drawn from the seed;
  * passes repeat until `--seconds` have gone by.
  *
  * Set-up is the session, one warm-up pass that writes every result as
  * parquet for the oracle check made by `run.py`, and one untimed pass
  * through the noop sink. With `--trace 1` a
  * [[Tracer]] records jobs, stages, tasks and plans, tagged with the
  * query execution and phase (`build` is the `queries` call, `exec` the
  * noop write).
  *
  * Usage: Harness --queries a,b --data DIR --seed N --seconds S
  *   --trace 0|1 --cores N --results DIR --out FILE
  *   Harness --oracle-sql a,b --out FILE   (dump oracle SQL and exit)
  */
object Harness {
  private def now(): Double = System.nanoTime() / 1e9

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** A field of a `/proc/self` file ("wchar" of io, "VmHWM" of status). */
  private def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(s"/proc/self/$file")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.drop(key.length + 1).trim.takeWhile(_.isDigit).toLong)
      .getOrElse(0L)

  /** Bytes of the files under `root`; files deleted mid-walk count as 0. */
  private def treeBytes(root: Path): Long = {
    var total = 0L
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def list(k: String): Seq[String] =
      opt.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val out = Paths.get(opt("out"))

    if (opt.contains("oracle-sql")) {
      val sql = SparkEntry.oracleSql
      Files.writeString(out, Json.value(list("oracle-sql").map(q => q -> sql.get(q)).toMap))
      return
    }

    val queries = list("queries")
    val data = opt("data")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val results = opt("results")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val epoch0 = System.currentTimeMillis() / 1e3 - now()
    def sinceJvmStart(t: Double): Double = epoch0 + t - jvmStart

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.TxnLogCatalog")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tSession = now()

    val tracer = if (traced) {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    def enter(tag: String): Unit = tracer.foreach { t =>
      Bus.drain(sc)
      t.tag = tag
      sc.setJobGroup(tag, tag, interruptOnCancel = false)
    }
    def storageBytes(): Long =
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    // Warm-up and correctness: every result lands as one parquet file.
    val warmFailures = collection.mutable.LinkedHashMap.empty[String, String]
    val warmTimes = collection.mutable.LinkedHashMap.empty[String, Double]
    queries.foreach { q =>
      enter(s"warmup:$q/build")
      val t0 = now()
      try {
        val df = SparkEntry.queries(q)(spark, data)
        enter(s"warmup:$q/exec")
        df.coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
      } catch {
        case e: Throwable => warmFailures(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      warmTimes(q) = now() - t0
    }
    // One more untimed pass: the JIT was still compiling through the
    // first pass after the correctness pass (on analytics_x8 that pass
    // took 1.4x the wall and 1.6x the CPU of the later ones).
    queries.foreach { q =>
      enter(s"warmup:$q/noop")
      try SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // already recorded by the correctness pass
    }
    enter("loop")
    val tWarm = now()

    // Timed closed loop: whole passes, a new one only while fewer than
    // `seconds` have gone by.
    val rnd = new scala.util.Random(seed)
    val execs = Seq.newBuilder[String]
    val passes = Seq.newBuilder[String]
    val failures = collection.mutable.LinkedHashMap.empty[String, String]
    var execId = 0
    var pass = 0
    val loopStart = now()
    while (pass == 0 || now() - loopStart < seconds) {
      val (p0, cpu0, gc0, w0) = (now(), cpuSeconds(), gcSeconds(), procField("io", "wchar"))
      rnd.shuffle(queries).foreach { q =>
        execId += 1
        enter(s"$execId/build")
        val t0 = now()
        var t1 = Double.NaN
        var ok = true
        try {
          val df: DataFrame = SparkEntry.queries(q)(spark, data)
          t1 = now()
          enter(s"$execId/exec")
          df.write.format("noop").mode("overwrite").save()
        } catch {
          case e: Throwable =>
            ok = false
            failures(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        val t2 = now()
        if (t1.isNaN) t1 = t2
        enter("loop")
        execs += Json.obj("id" -> execId, "pass" -> pass, "query" -> q, "ok" -> ok,
          "build_start" -> (epoch0 + t0), "exec_start" -> (epoch0 + t1),
          "end" -> (epoch0 + t2),
          "storage_bytes" -> (if (traced) storageBytes() else 0L))
      }
      val p1 = now()
      passes += Json.obj("pass" -> pass, "start" -> (epoch0 + p0), "end" -> (epoch0 + p1),
        "wall_s" -> (p1 - p0), "cpu_s" -> (cpuSeconds() - cpu0),
        "gc_s" -> (gcSeconds() - gc0), "wchar" -> (procField("io", "wchar") - w0))
      pass += 1
    }
    enter("teardown")

    val record = Seq(
      "queries" -> queries,
      "setup" -> Map(
        "session_s" -> sinceJvmStart(tSession),
        "warmup_s" -> (tWarm - tSession),
        "total_s" -> sinceJvmStart(tWarm)),
      "warmup_s_by_query" -> warmTimes.toMap,
      "warmup_failures" -> warmFailures.toMap,
      "failures" -> failures.toMap,
      "vm_hwm_kb" -> procField("status", "VmHWM"),
      "passes" -> Json.Raw(passes.result().mkString("[", ",", "]")),
      "execs" -> Json.Raw(execs.result().mkString("[", ",", "]"))) ++
      tracer.map(_.toJson).getOrElse(Nil)
    spark.stop()
    // What the program left in the run's tmpdir; Spark's own shuffle
    // files go with the stopped session.
    val stored = treeBytes(Paths.get(System.getProperty("java.io.tmpdir")))
    Files.writeString(out, Json.obj(record :+ ("stored_bytes" -> stored): _*))
  }
}
