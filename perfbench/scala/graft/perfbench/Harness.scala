package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import graft.{Bench, GraftSession, MatStore, QueryDef, Registry}
import org.apache.spark.sql.{Row, SparkSession}

/** Closed-loop, one-client benchmark harness for graft workloads.
  *
  * One JVM runs one workload: set-up (session, table listing, warm-up
  * passes that fill MatStore, the codegen cache and the JIT), then timed
  * passes until the measuring window is spent and at least `minPasses`
  * have run. Each query is timed as two calls:
  * `QueryDef.run` (plan construction plus any eager iteration) and the
  * noop-sink write that executes the plan. With `trace=1` a
  * [[Tracer]] listener records every Spark job, linked to its query by
  * job group. Everything lands in one JSON file that `run.py` reduces to
  * metrics.
  *
  * Usage: Harness list
  *        Harness workload=<name> queries=<name,...> data=<dir> seed=<n>
  *   seconds=<s> trace=<0|1> out=<file> scratch=<dir> warmup=<n>
  *   minPasses=<n>
  *
  * The output check digests the results of the first warm-up pass, or,
  * with `warmup=0`, re-reads each result after the timed passes.
  */
object Harness {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** A query running longer than this is cancelled and counted as failed. */
  private val QueryLimitSec = 120.0

  /** Wall-clock milliseconds on the same axis as Spark's event times. */
  def nowMs: Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  /** Pass order: names sorted by sha256("seed:pass:name"). `run.py`
    * mirrors this rule and checks the recorded order against it.
    */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    names.sortBy(n => hex(sha256(s"$seed:$pass:$n")))

  private def sha256(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** Order-insensitive digest of a result: columns sorted by name, each
    * row rendered canonically, rows sorted, then sha256 of the lines.
    */
  def digest(schemaNames: Seq[String], rows: Array[Row]): String = {
    val cols = schemaNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => cols.map(i => render(r.get(i))).mkString("\u0001")).sorted
    hex(sha256(schemaNames.sorted.mkString(",") + "\n" + lines.mkString("\n")))
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case b: Array[Byte] => hex(b)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  /** Cumulative (steal, total) jiffies from /proc/stat; zeros elsewhere. */
  private def cpuStat(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  final case class QueryRec(name: String, group: String, startMs: Double,
      runEndMs: Double, endMs: Double, error: Option[String])

  final case class PassRec(index: Int, timed: Boolean, order: Seq[String],
      startMs: Double, endMs: Double, queries: Seq[QueryRec], stealShare: Double,
      cachedMb: Double, storeMb: Double)

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("list"))) {
      // every registered query, tab, 1 when it is a memoized lifecycle gate
      Registry.all.foreach(d =>
        println(s"${d.name}\t${if (Bench.lifecycleBuilds.contains(d.name)) 1 else 0}"))
      return
    }
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val dir = opt("data")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val warmup = opt("warmup").toInt
    val minPasses = opt("minPasses").toInt
    val cpus = Runtime.getRuntime.availableProcessors

    val registry = Registry.byName
    val defs = opt("queries").split(",").toSeq.map(n => registry.getOrElse(n,
      QueryDef(n, (_: SparkSession, _: String) =>
        throw new NoSuchElementException(s"query $n is not registered"), None)))
    // a lifecycle gate's arc is memoized; clear its memo so every pass
    // runs the arc rather than reading the previous pass's result
    val clearBefore = defs.flatMap(d => Bench.lifecycleBuilds.getOrElse(d.name, Nil))

    val spark = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", opt("scratch") + "/warehouse")
      .config("spark.local.dir", opt("scratch") + "/spark-local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)

    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, (String, Int)]]
    def recordDigest(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.collect()
      checks(name) = Right((digest(df.schema.fieldNames.toIndexedSeq, rows), rows.length))
    }
    def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

    /** Times `run` and then the noop write; with `check`, collects and
      * digests the result instead of the noop write.
      */
    def runQuery(d: QueryDef, pass: Int, check: Boolean): QueryRec = {
      val group = s"${d.name}#$pass"
      spark.catalog.clearCache()
      if (clearBefore.nonEmpty) MatStore.clearPrefix(spark, clearBefore)
      sc.setJobGroup(group, d.name, interruptOnCancel = true)
      val watchdog = new Watchdog(sc, group, QueryLimitSec)
      val t0 = nowMs
      var t1 = t0
      val err = try {
        val df = d.run(spark, dir)
        t1 = nowMs
        if (check) recordDigest(d.name, df)
        else df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(message(e))
      } finally {
        watchdog.stop()
        sc.clearJobGroup()
      }
      val t2 = nowMs
      if (err.isDefined && t1 == t0) t1 = t2
      val error = if (watchdog.fired) Some("watchdog cancel") else err
      if (check) error.foreach(e => checks(d.name) = Left(e))
      QueryRec(d.name, group, t0, t1, t2, error)
    }

    def runPass(index: Int, timed: Boolean, check: Boolean): PassRec = {
      val names = order(defs.map(_.name), seed, index)
      val byName = defs.map(d => d.name -> d).toMap
      val (st0, tot0) = cpuStat()
      val start = nowMs
      val qs = names.map(n => runQuery(byName(n), index, check))
      val end = nowMs
      val (st1, tot1) = cpuStat()
      val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      val storeMb =
        if (workload == "ops_week") dirBytes(graft.operators.Ops.opsWeekStoreDir(spark, dir)) / 1e6
        else 0.0
      val steal = if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0
      PassRec(index, timed, names, start, end, qs, steal, cachedMb, storeMb)
    }

    val passes = ArrayBuffer.empty[PassRec]
    (0 until warmup).foreach(i => passes += runPass(i, timed = false, check = i == 0))
    tracer.foreach { t => org.apache.spark.PerfbenchBus.drain(sc); t.reset() }
    val heap = new HeapAfterGc
    heap.on = true
    val timedStart = nowMs
    var timedCount = 0
    while (timedCount < minPasses || nowMs - timedStart < seconds * 1000) {
      passes += runPass(warmup + timedCount, timed = true, check = false)
      timedCount += 1
    }
    val timedEnd = nowMs
    heap.on = false
    tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))

    // without a warm-up pass, check the results the timed passes left
    // (a lifecycle gate's memo is then read, not rebuilt)
    if (warmup == 0) {
      defs.foreach { d =>
        spark.catalog.clearCache()
        try recordDigest(d.name, d.run(spark, dir))
        catch { case e: Throwable => checks(d.name) = Left(message(e)) }
      }
    }

    val w = new Json
    w.obj {
      w.field("workload", workload); w.field("seed", seed); w.field("trace", trace)
      w.field("cpus", cpus); w.field("jvm_start_ms", jvmStartMs.toDouble)
      w.field("timed_start_ms", timedStart); w.field("timed_end_ms", timedEnd)
      w.field("setup_s", (timedStart - jvmStartMs) / 1000)
      w.field("peak_heap_mb", heap.peakBytes / 1e6)
      w.key("queries"); w.arr(defs.map(_.name))(w.value(_))
      w.key("passes"); w.arr(passes.toSeq) { p =>
        w.obj {
          w.field("index", p.index); w.field("timed", p.timed)
          w.field("start_ms", p.startMs); w.field("end_ms", p.endMs)
          w.field("steal_share", p.stealShare)
          w.field("cached_mb", p.cachedMb); w.field("store_mb", p.storeMb)
          w.key("order"); w.arr(p.order)(w.value(_))
          w.key("queries"); w.arr(p.queries) { q =>
            w.obj {
              w.field("name", q.name); w.field("group", q.group)
              w.field("start_ms", q.startMs); w.field("run_end_ms", q.runEndMs)
              w.field("end_ms", q.endMs)
              q.error.foreach(w.field("error", _))
            }
          }
        }
      }
      w.key("checks"); w.arr(checks.toSeq) { case (n, r) =>
        w.obj {
          w.field("name", n)
          r match {
            case Right((dg, rows)) => w.field("digest", dg); w.field("rows", rows.toLong)
            case Left(e) => w.field("error", e)
          }
        }
      }
      tracer.foreach { t => w.key("jobs"); t.writeJobs(w) }
    }
    Files.writeString(Paths.get(opt("out")), w.result)
    spark.stop()
  }
}

/** The most heap in use just after a collection, over the collections
  * that end while `on`. The instantaneous peak would mostly say how full
  * the young generation got before each collection; what is left after
  * one is what the program keeps reachable, plus old-generation garbage
  * not yet reclaimed.
  */
private[perfbench] final class HeapAfterGc extends NotificationListener {
  @volatile var on = false
  private val peak = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  def peakBytes: Long = peak.get

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
      val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
    }
}

/** Cancels a query's job group once it has run `limitSec` seconds. */
private[perfbench] final class Watchdog(sc: org.apache.spark.SparkContext, group: String, limitSec: Double) {
  @volatile var fired = false
  private val t = new Thread(() => {
    try {
      Thread.sleep((limitSec * 1000).toLong)
      fired = true
      sc.cancelJobGroup(group)
    } catch { case _: InterruptedException => () }
  })
  t.setDaemon(true)
  t.start()
  def stop(): Unit = { t.interrupt(); t.join() }
}

/** Minimal streaming JSON writer (no dependency beyond the JDK). */
private[perfbench] final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  def obj(body: => Unit): Unit = { sep(); sb.append('{'); first = true; body; sb.append('}'); first = false }
  def arr[T](xs: Iterable[T])(each: T => Unit): Unit = {
    sep(); sb.append('['); first = true; xs.foreach(each); sb.append(']'); first = false
  }
  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  def value(v: Any): Unit = { sep(); v match {
    case s: String => str(s)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Long => sb.append(n)
    case n: Int => sb.append(n)
    case other => str(other.toString)
  } }
  def field(k: String, v: Any): Unit = { key(k); value(v) }
  def result: String = sb.toString
}
