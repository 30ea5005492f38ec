package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One measured JVM of the benchmark (started by run.py, never by hand):
  *
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                 --work DIR --cache DIR --out FILE
  * }}}
  *
  * Set-up is JVM start → SparkSession ready → untimed warm-up; the line
  * `READY` on stdout marks its end (run.py times it). Then it generates
  * the workload's inputs (timed as harness work), runs the workload's fixed
  * work in max(1, ⌊S / nominal pass seconds⌋) passes — a count fixed by S,
  * so every run of a workload measures the same work — checks the
  * outputs and writes one JSON record to FILE. With `--trace 1` the same
  * passes run traced: listeners installed, spans recorded. `--cache DIR`
  * holds seed-independent generated inputs that later runs may reuse.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.create(work, cores)
    Session.warmUp(spark, work)
    println("READY")
    System.out.flush()
    val ctx = Ctx(spark, work, new File(a("cache")).getAbsoluteFile, a("seed").toLong,
      a("seconds").toDouble, a("trace") == "1")
    val wl: Workload = a("workload") match {
      case "etl_release" => new EtlRelease(ctx)
      case "ops_churn"   => new OpsChurn(ctx)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = Passes.run(ctx, wl)
    spark.stop()
    rec("peak_rss_kb") = Session.vmHwmKb
    java.nio.file.Files.writeString(new File(a("out")).toPath, Json.write(rec) + "\n")
  }
}

final case class Ctx(spark: SparkSession, work: File, cache: File, seed: Long,
                     seconds: Double, trace: Boolean) {
  val out: String = new File(work, "out").getPath
  var tracer: Tracer = new Tracer
  /** Span when tracing, plain call otherwise. */
  def span[A](name: String)(f: => A): A =
    if (tracer.spark.isDefined) tracer.span(name)(f) else f
}

/** One operation sample: `kind` groups samples (query, append, ...). */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean)

/** A workload: harness set-up, then repeatable passes of fixed work. */
trait Workload {
  /** Typical seconds of one pass; sets the pass count for a budget. */
  def nominalPassS: Double
  /** Generate inputs; returns harness timings (name → seconds). */
  def prepare(): Map[String, Double]
  /** One pass of the fixed work; records ops and counters. */
  def pass(i: Int, ops: mutable.ArrayBuffer[Op], counters: mutable.Map[String, Double]): Unit
  /** Output checks after the last pass: (name, ok, detail). */
  def check(counters: mutable.Map[String, Double]): Seq[(String, Boolean, String)]
}

object Passes {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def run(ctx: Ctx, wl: Workload): mutable.LinkedHashMap[String, Any] = {
    val rec = mutable.LinkedHashMap[String, Any]()
    rec("settings") = Session.settings(ctx.spark)
    rec("harness") = wl.prepare()
    val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    var lastCounters = mutable.Map[String, Double]()
    def onePass(i: Int, traced: Boolean): Unit = {
      val ops = mutable.ArrayBuffer[Op]()
      val counters = mutable.Map[String, Double]()
      val c0 = cpuNs
      val (_, wall) = timed(wl.pass(i, ops, counters))
      passes += mutable.LinkedHashMap("traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> (cpuNs - c0) / 1e9, "counters" -> counters.toMap,
        "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
          "s" -> o.seconds, "ok" -> o.ok)).toSeq)
      lastCounters = counters
    }
    val n = math.max(1, math.floor(ctx.seconds / wl.nominalPassS).toInt)
    if (!ctx.trace) for (i <- 0 until n) onePass(i, traced = false)
    else {
      val tracer = new Tracer
      ctx.tracer = tracer
      val codegen0 = CodeGenerator.compileTime
      val l = SparkTrace.install(ctx.spark, tracer)
      val (_, tracedWall) = timed(for (i <- 0 until n) onePass(i, traced = true))
      SparkTrace.uninstall(ctx.spark, l)
      tracer.spark = None
      l.emitSpans()
      rec("trace") = Map(
        "passes" -> n,
        "wall_s" -> tracedWall,
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "start" -> s.start, "end" -> s.end, "parent" -> s.parent)),
        "spark" -> Map("jobs" -> l.jobCount, "stages" -> l.stages, "tasks" -> l.tasks,
          "executor_run_s" -> l.executorRunMs / 1e3, "executor_cpu_s" -> l.executorCpuNs / 1e9,
          "gc_s" -> l.gcMs / 1e3, "shuffle_write_bytes" -> l.shuffleWriteBytes,
          "spill_bytes" -> l.spillBytes, "planning_s" -> l.planningMs / 1e3,
          "query_actions" -> l.queryActions,
          "codegen_compile_s" -> (CodeGenerator.compileTime - codegen0) / 1e9))
    }
    rec("passes") = passes.toSeq
    val (checks, checkS) = timed(
      try wl.check(lastCounters)
      catch { case e: Throwable => Seq(("check", false, s"${e.getClass.getName}: ${e.getMessage}")) })
    rec("check_s") = checkS
    rec("checks") = checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    rec("final_counters") = lastCounters.toMap
    rec
  }
}

object Session {
  def create(work: File, cores: Int): SparkSession = {
    val tmp = new File(work, "tmp"); tmp.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "ckpt").getAbsolutePath)
    spark
  }

  /** Untimed warm-up: scheduler, codegen, shuffle and parquet paths. */
  def warmUp(spark: SparkSession, work: File): Unit = {
    import org.apache.spark.sql.functions._
    val p = new File(work, "warmup").getAbsolutePath
    spark.range(0, 20000, 1, 4).select((col("id") % 97).as("k"), col("id"))
      .groupBy("k").agg(sum("id")).write.mode("overwrite").parquet(p)
    spark.read.parquet(p).orderBy("k").collect()
    Files.rm(new File(p))
  }

  def settings(spark: SparkSession): Map[String, Any] = {
    val c = spark.conf
    Map("master" -> spark.sparkContext.master,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
        .map(_.toString),
      "spark_version" -> spark.version)
  }

  def vmHwmKb: Long =
    try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally s.close()
    } catch { case _: Throwable => 0L }
}

/** Minimal JSON writer. Numbers go through `java.lang.Double.toString` /
  * `Long.toString`, which never consult the default locale, so the
  * record parses whatever `user.language` the JVM runs under. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append("\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt))
        case c    => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null => sb.append("null")
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(java.lang.Double.toString(d))
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        var first = true
        m.foreach { case (k, vv) =>
          if (!first) sb.append(','); first = false
          str(k.toString); sb.append(':'); go(vv)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        var first = true
        s.foreach { vv => if (!first) sb.append(','); first = false; go(vv) }
        sb.append(']')
      case o: Option[_] => go(o.orNull)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}

/** Count + order-free xor-hash of every output column: the full
  * evaluation `graft.Bench.fullCount` forces, also returning the hash. */
object CountHash {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
  def apply(df: DataFrame): (Long, Long) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = renamed.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = renamed.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** Prints a locale-formatted number and then a [[Json]] record, for the
  * test that the record parses under a decimal-comma default locale. */
object JsonSelfTest {
  def main(args: Array[String]): Unit = {
    println(String.format("%.2f", Double.box(1.5)))
    println(Json.write(Map("pi" -> math.Pi, "n" -> 12345678901L, "s" -> "a\"b\\c\n",
      "small" -> 1.5e-7, "nan" -> Double.NaN)))
  }
}
