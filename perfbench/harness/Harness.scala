package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: build the session with `graft.Bench`'s
  * settings, then run `warm` untimed passes and `timed` timed passes over
  * the workload's keys, each pass in its own seeded order. The first
  * warm-up pass writes every key's result for the DuckDB check in place
  * of counting it. Raw per-pass, per-key records go to
  * `<out>/harness.json`; `run.py` reduces them to metrics.
  *
  * A key is timed from outside: the `fn(spark, sfDir)` call
  * (construction) and the `.count()` action separately. A key that
  * throws records its error and no time.
  */
object Harness {
  case class Config(keys: Seq[String], seed: Long, warm: Int, timed: Int,
                    trace: Boolean, sfDir: String, out: String, nproc: Int,
                    plant: Boolean)

  type Q = (SparkSession, String) => DataFrame

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Harness self-test keys: a wrong result under a real oracle, and a
    * key that always throws. Both must come out as failed. */
  private val planted: Map[String, (Q, String)] = Map(
    "planted_wrong" -> (((s: SparkSession, d: String) =>
      graft.SparkEntry.queries("agg_pricing_summary")(s, d).limit(1)),
      graft.SparkEntry.oracleSql("agg_pricing_summary")),
    "planted_throw" -> (((_: SparkSession, _: String) =>
      throw new IllegalStateException("planted exception")), "SELECT 1 AS x"))

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  @volatile private var calibSink = 0L

  /** A fixed single-thread integer loop: its time tracks the host's
    * speed, not the program's. */
  private def calib(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 60000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    calibSink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** Waits, at most 3 s, until the JIT has compiled nothing for 200 ms,
    * so that compilations queued by earlier passes do not run inside the
    * next timed pass. */
  private def settleJit(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    var (last, idle) = (jitMs, 0)
    while (idle < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jitMs
      idle = if (now - last <= 2) idle + 1 else 0
      last = now
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val cfg = mapper.readValue(new File(args(0)), classOf[Config])
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${cfg.nproc}]")
      .config("spark.sql.shuffle.partitions", cfg.nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val buildS = (System.nanoTime() - t0) / 1e9

    val registry: Map[String, Q] = graft.SparkEntry.queries ++
      (if (cfg.plant) planted.map { case (k, (q, _)) => k -> q } else Nil)
    val oracles: Map[String, String] = graft.SparkEntry.oracleSql ++
      (if (cfg.plant) planted.map { case (k, (_, o)) => k -> o } else Nil)
    val unknown = cfg.keys.filterNot(k => registry.contains(k) && oracles.contains(k))
    require(cfg.warm >= 1, "the first warm-up pass writes the result dumps")
    require(unknown.isEmpty, s"keys without a query or an oracle: $unknown")

    def views(): Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val confBefore = spark.conf.getAll
    val viewsBefore = views()
    val layers = new Layers

    def pass(kind: String, idx: Int, traced: Boolean,
             dump: Boolean = false): Map[String, Any] = {
      val order = new Random(cfg.seed * 1000003L + idx).shuffle(cfg.keys)
      if (traced) {
        spark.sparkContext.addSparkListener(layers)
        spark.streams.addListener(layers.streams)
      }
      val (cpu0, gc0, jit0) = (os.getProcessCpuTime, gcMs, jitMs)
      val comp0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val w0 = System.nanoTime()
      val keys = order.map { k =>
        val kc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val rec: Map[String, Any] = try {
          val a = System.nanoTime()
          val df = registry(k)(spark, cfg.sfDir)
          val b = System.nanoTime()
          if (dump) {
            df.coalesce(1).write.parquet(s"${cfg.out}/dump/$k")
            Map("dumped" -> true)
          } else {
            val rows = df.count()
            val c = System.nanoTime()
            Map("construct_s" -> (b - a) / 1e9, "action_s" -> (c - b) / 1e9,
              "rows" -> rows)
          }
        } catch { case e: Throwable =>
          Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300))
        }
        k -> (rec + ("compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - kc0)))
      }.toMap
      val wall = (System.nanoTime() - w0) / 1e9
      val rec = Map[String, Any]("kind" -> kind, "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
        "gc_s" -> (gcMs - gc0) / 1e3, "jit_s" -> (jitMs - jit0) / 1e3,
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - comp0),
        "order" -> order, "keys" -> keys)
      if (!traced) rec
      else {
        ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(layers)
        spark.streams.removeListener(layers.streams)
        rec + ("layers" -> layers.snapshot())
      }
    }

    val warm = (0 until cfg.warm).map(i => pass("warm", i, traced = false, dump = i == 0))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val calibBefore = Seq.fill(3)(calib())
    // trace runs alternate traced and untraced passes, so the listeners'
    // overhead is measured within the run
    val timed = (0 until cfg.timed).map { i =>
      val s0 = System.nanoTime()
      settleJit()
      val settleS = (System.nanoTime() - s0) / 1e9
      pass("timed", cfg.warm + i, traced = cfg.trace && i % 2 == 0) +
        ("settle_s" -> settleS)
    }
    val calibAfter = Seq.fill(3)(calib())

    // live heap: what the heap pools hold after a full collection
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
    val confAfter = spark.conf.getAll
    val confChanged = (confBefore.keySet ++ confAfter.keySet)
      .filter(k => confBefore.get(k) != confAfter.get(k)).toSeq.sorted
    val viewsAdded = (views() -- viewsBefore).toSeq.sorted
    val sc = spark.sparkContext
    val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize)
      .sum / (1024.0 * 1024.0)
    val persisted = sc.getPersistentRDDs.size

    val result = Map[String, Any](
      "env" -> Map("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "vm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "nproc" -> cfg.nproc),
      "jvm_to_main_s" -> mainS, "session_build_s" -> buildS, "setup_s" -> setupS,
      "warmup_s" -> warm.map(_("wall_s").asInstanceOf[Double]).sum,
      "calib_s" -> (calibBefore ++ calibAfter),
      "passes" -> (warm ++ timed),
      "heap_live_mb" -> heapLiveMb,
      "residue" -> Map("conf_changed" -> confChanged,
        "views_added" -> viewsAdded),
      "ckpt" -> Map("persisted_rdds" -> persisted, "storage_mb" -> storageMb),
      "oracles" -> cfg.keys.map(k => k -> oracles(k)).toMap)
    mapper.writeValue(new File(s"${cfg.out}/harness.json"), result)
    spark.stop()
  }
}
