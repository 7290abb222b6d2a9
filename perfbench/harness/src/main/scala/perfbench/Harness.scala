package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.serve.Published
import graft.sources.{Bucketed, FileCatalog, IndexedTable}
import graft.workflow.Workflow
import graft.workflow.Workflow.Stored

/** The benchmark's JVM side: runs one workload against the program's public
  * entry points and writes raw timings, counters and the outputs to check
  * as JSON for run.py, which checks the outputs and prints the metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --run DIR
  */
object Harness {

  /** Registry queries timed by `registry_sf0.01`: one per query module,
    * among them the positioning pass (`q09_enth`) and the profile pass
    * (`q150_profile`) that run jobs while constructing; about 7 s a round
    * at sf0.01 on 4 cores. IoQueries are left out: their fixtures live
    * under a fixed absolute path outside the checkout and are built once
    * per tree (see README).
    */
  val RegistryQueries: Seq[String] = Seq(
    "q04_sort", "q09_enth", "q14_stats", "q20_join_inner", "q60_normalize",
    "q82_langid", "q100_str_funcs", "q130_parse", "q150_profile", "q205_asof_join")

  /** Queries timed by `olap_sf1`: scan, join, sort and statistics queries
    * whose time grows with the input, about 8 s a warm round at sf1.
    */
  val OlapQueries: Seq[String] = Seq(
    "q04_sort", "q14_stats", "q20_join_inner", "q184_min_cost_supplier")

  /** Serving traffic, per round of `serve_sf0.1`. The reference gives no
    * figure for the make-up of Roxie traffic, so this mix is an assumption:
    * half the requests are point lookups on a hot set of `HotKeys` orders
    * with Zipf-skewed popularity (they repeat, so later ones hit the
    * response cache, and two identical concurrent misses collapse), a
    * quarter look up orders asked once only and a quarter aggregate one
    * part asked once only (both always miss). The seed draws the keys and
    * the order of the kinds within each round.
    */
  val PointLookups = 4
  val UniqueLookups = 2
  val Aggregates = 2
  val HotKeys = 8
  val ZipfExponent = 1.0
  /** Untimed misses before the timed phase, on keys never asked again. */
  val WarmupRequests = 8

  private val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  final case class Op(name: String, round: Int, wallNs: Long, ok: Boolean,
      error: String, phases: Map[String, Long])

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val runDir = args("run")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session ready")

    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
    }
    val b = new Bench(spark, tracer, seed, seconds, data, runDir, cpus)
    val out = workload match {
      case "registry_sf0.01" => b.batch(RegistryQueries, "sf0.01", "sf0.001")
      case "olap_sf1" => b.batch(OlapQueries, "sf1", "sf0.1")
      case "serve_sf0.1" => b.serve("sf0.1")
      case "refresh_sf0.1" => b.refresh("sf0.1")
      case other => sys.error(s"unknown workload: $other")
    }
    mark("workload done")
    Files.write(Paths.get(runDir, "result.json"), Json(out).getBytes(UTF_8))
    tracer.foreach(t => Files.write(Paths.get(runDir, "spans.jsonl"),
      t.spanList.map(s => Json(Map("trace" -> s.trace, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end))).mkString("", "\n", "\n").getBytes(UTF_8)))
    spark.stop()
    mark("stopped")
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def setupS: Double = (System.currentTimeMillis() - startMs) / 1000.0

  /** Progress line on stderr, with seconds since the JVM started. */
  def mark(what: String): Unit = System.err.println(f"[harness] $setupS%.1f s: $what")

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  object Json {
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => "\"" + s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case other => apply(other.toString)
    }
  }
}

final class Bench(spark: SparkSession, tracer: Option[Tracer], seed: Long,
    seconds: Double, data: String, runDir: String, cpus: Int) {
  import Harness._

  private val ops = mutable.ArrayBuffer.empty[Op]
  private var firstOpS = -1.0
  private val traces = mutable.Set.empty[Long]
  private val extra = mutable.LinkedHashMap.empty[String, Any]

  /** Time `body` as one operation. Phases named through `phase` become
    * child spans (and, when traced, attribute Spark work to the phase).
    */
  private def op[T](name: String, round: Int)(body: ((String) => (=> Any) => Any) => T): (Op, Option[T]) = {
    if (round > 0 && firstOpS < 0) firstOpS = setupS
    val trace = tracer.map(_.newId()).getOrElse(0L)
    val rootId = tracer.map(_.newId()).getOrElse(0L)
    val phases = mutable.LinkedHashMap.empty[String, Long]
    val phase: String => (=> Any) => Any = n => b => {
      val t0 = System.nanoTime()
      try tracer match {
        case Some(t) => t.span(trace, rootId, n)(b)
        case None => b
      } finally phases(n) = phases.getOrElse(n, 0L) + System.nanoTime() - t0
    }
    val cg0 = Tracer.codegenNs
    val wall0 = tracer.map(_.now).getOrElse(0L)
    val t0 = System.nanoTime()
    val res = try Right(tracer match {
      case Some(t) => t.scoped(trace, rootId, "op")(body(phase))
      case None => body(phase)
    }) catch { case e: Throwable => Left(e) }
    val dt = System.nanoTime() - t0
    phases("codegen") = Tracer.codegenNs - cg0
    tracer.foreach { t =>
      t.record(Span(trace, rootId, 0, name, wall0, wall0 + dt))
      t.opInterval(trace, rootId, wall0, wall0 + dt)
      if (round > 0) traces += trace
    }
    val o = Op(name, round, dt, res.isRight,
      res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)).orNull,
      phases.toMap)
    if (round > 0) ops += o
    (o, res.toOption)
  }

  private def deadlineReached(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 >= seconds

  // ---- batch: registry queries, each fully materialized by collect() ----

  private def query(name: String, dir: String, round: Int): (Op, Option[(StructType, Array[Row])]) = {
    val fn = SparkEntry.queries(name)
    op(name, round) { phase =>
      val df = phase("construct")(fn(spark, dir)).asInstanceOf[DataFrame]
      phase("plan")(df.queryExecution.executedPlan)
      val rows = phase("execute")(df.collect()).asInstanceOf[Array[Row]]
      (df.schema, rows)
    }
  }

  def batch(queries: Seq[String], sf: String, warm: String): Map[String, Any] = {
    val dir = s"$data/$sf"
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // warm-up: one untimed round on a ten times smaller input, cpus
    // queries at a time, so the timed round does not pay first-use class
    // loading, codegen and JIT
    par(queries.map(q => () => { query(q, s"$data/$warm", 0); () }))
    mark("warm-up done")
    val firstRound = mutable.ArrayBuffer.empty[(String, Option[(StructType, Array[Row])])]
    val t0 = System.nanoTime()
    var round = 0
    while (round == 0 || !deadlineReached(t0)) {
      round += 1
      queries.foreach { q =>
        val (_, res) = query(q, dir, round)
        if (round == 1) firstRound += ((q, res))
      }
    }
    mark(s"$round rounds timed")
    // the first round's results go to disk for the check after timing
    val checks = firstRound.toList.map { case (q, res) =>
      Map("name" -> q, "path" -> res.map(_ => s"$runDir/check/$q"),
        "sql" -> SparkEntry.oracleSql.get(q))
    }
    par(firstRound.toList.collect { case (q, Some((schema, rows))) =>
      () => dump(schema, rows, s"$runDir/check/$q")
    })
    result(round, Map("queries" -> checks, "data" -> dir))
  }

  /** Run `tasks` on up to `cpus` threads and wait for all of them. */
  private def par(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Write collected rows as one parquet file for the out-of-process check. */
  private def dump(schema: StructType, rows: Array[Row], path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  // ---- serving: published INDEX lookups and aggregates over HTTP --------

  /** A traced HTTP request, registered by the client before it sends and
    * claimed by the published closure that evaluates it.
    */
  private final class Pending(val trace: Long, val root: Long) {
    val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var constructNs = 0L
    @volatile var execId = 0L
    @volatile var execStart = 0L
  }

  def serve(sf: String): Map[String, Any] = {
    val dir = s"$data/$sf"
    val fixtures = s"$runDir/serve"
    // per-run fixtures: the two indexes the published queries read
    val orderIdx = s"$fixtures/orders_by_key"
    val partIdx = s"$fixtures/lineitem_by_part"
    par(Seq(
      () => IndexedTable.build(Tables.orders(spark, dir).select("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderpriority"), Seq("o_orderkey"), orderIdx, cpus),
      () => IndexedTable.build(Tables.lineitem(spark, dir).select("l_partkey", "l_returnflag",
        "l_quantity"), Seq("l_partkey"), partIdx, cpus)))

    // When traced, the published closure runs on the listener's handler
    // thread: it claims the request's trace, records the construct span and
    // leaves the trace on that thread for the plan and `take` that follow.
    val registered = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[Pending]]()
    def requestKey(query: String, value: String) = s"$query $value"
    def traced(query: String, param: String)(fn: (SparkSession, Stored) => DataFrame)
        : (SparkSession, Stored) => DataFrame = (s, st) => {
      val mine = for {
        t <- tracer
        q <- Option(registered.get(requestKey(query, st(param, ""))))
        p <- q.asScala.find(_.claimed.compareAndSet(false, true))
      } yield (t, p)
      mine match {
        case None => fn(s, st)
        case Some((t, p)) =>
          val t0 = System.nanoTime()
          val df = t.span(p.trace, p.root, "construct")(fn(s, st))
          p.constructNs = System.nanoTime() - t0
          p.execId = t.newId()
          p.execStart = t.now
          t.enter(p.trace, p.execId, "execute")
          df
      }
    }
    val pub = new Published(spark)
    pub.publish("order_by_key")(traced("order_by_key", "key") { (s, st) =>
      IndexedTable.keyedRead(s, orderIdx, col("o_orderkey") === st.long("key", -1L))
    })
    pub.publish("part_qty")(traced("part_qty", "part") { (s, st) =>
      IndexedTable.keyedRead(s, partIdx, col("l_partkey") === st.long("part", -1L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
    })
    val port = pub.serve(0, 1000, 3600000L)
    val nOrders = spark.read.parquet(orderIdx).count()
    val nParts = Tables.part(spark, dir).count()

    // the request stream, all drawn from the seed: point lookups on a hot
    // key set with Zipf-skewed popularity, lookups of keys asked once only,
    // aggregates over parts asked once only (see PointLookups)
    val rng = new Random(seed)
    val shuffled = rng.shuffle((0L until nOrders).toVector)
    val hotKeys = shuffled.take(HotKeys)
    val orderKeys = shuffled.iterator.drop(HotKeys)
    val partKeys = rng.shuffle((0L until nParts).toVector).iterator
    val zipfCdf = {
      val w = (1 to HotKeys).map(i => 1.0 / math.pow(i, ZipfExponent))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def hotKey(): Long = {
      val u = rng.nextDouble()
      val i = zipfCdf.indexWhere(u < _)
      hotKeys(if (i < 0) HotKeys - 1 else i)
    }

    final case class Req(kind: String, query: String, param: String, value: Long, round: Int)
    final case class Done(req: Req, latNs: Long, code: Int, body: String, endNs: Long,
        traced: Option[Pending])

    def unique(round: Int) = Req("unique", "order_by_key", "key", orderKeys.next(), round)
    def aggregate(round: Int) = Req("agg", "part_qty", "part", partKeys.next(), round)
    def roundReqs(round: Int): Seq[Req] =
      rng.shuffle(Seq.fill(PointLookups)("point") ++ Seq.fill(UniqueLookups)("unique") ++
        Seq.fill(Aggregates)("agg")).map {
        case "point" => Req("point", "order_by_key", "key", hotKey(), round)
        case "unique" => unique(round)
        case _ => aggregate(round)
      }

    def get(r: Req): (Int, String) = {
      val conn = new URI(s"http://127.0.0.1:$port/query/${r.query}?${r.param}=${r.value}")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      try (code, new String(is.readAllBytes(), UTF_8)) finally is.close()
    }

    // warm-up (setup): misses of both kinds on keys never asked again; the
    // hot keys are not asked, so their first requests in the timed phase miss
    par((0 until WarmupRequests).map(i => if (i % 2 == 0) unique(0) else aggregate(0))
      .map(r => () => { get(r); () }))

    val (hits0, misses0) = pub.cacheStats
    val collapsed0 = pub.collapsedStats
    tracer.foreach(_.drain())
    val unattributed0 = tracer.map(_.unattributed("jobs"))
    val cg0 = Tracer.codegenNs
    firstOpS = setupS
    val t0 = System.nanoTime()
    val queue = mutable.Queue.empty[Req]
    var round = 0
    def next(): Option[Req] = queue.synchronized {
      if (queue.isEmpty && (round == 0 || !deadlineReached(t0))) {
        round += 1
        queue ++= roundReqs(round)
      }
      if (queue.isEmpty) None else Some(queue.dequeue())
    }
    val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
    val clients = (0 until cpus).map { _ =>
      new Thread(() => {
        var r = next()
        while (r.isDefined) {
          val q = r.get
          val key = requestKey(q.query, q.value.toString)
          val p = tracer.map { t =>
            val p = new Pending(t.newId(), t.newId())
            registered.computeIfAbsent(key, _ => new java.util.concurrent.ConcurrentLinkedQueue[Pending]())
              .add(p)
            p
          }
          val w0 = tracer.map(_.now).getOrElse(0L)
          val s = System.nanoTime()
          val (code, body) = try get(q) catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
          val e = System.nanoTime()
          for (t <- tracer; p <- p) {
            val w1 = w0 + (e - s)
            t.record(Span(p.trace, p.root, 0, q.kind, w0, w1))
            if (p.execId != 0) t.record(Span(p.trace, p.execId, p.root, "execute", p.execStart, w1))
            t.opInterval(p.trace, p.root, w0, w1)
            registered.get(key).remove(p)
          }
          done.add(Done(q, e - s, code, body, e, p))
          r = next()
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val completed = done.toArray(Array.empty[Done]).toSeq
    val elapsedNs = completed.map(_.endNs).max - t0
    val (hits1, misses1) = pub.cacheStats
    tracer.foreach { t =>
      t.drain()
      val stray = t.unattributed("jobs") - unattributed0.get
      if (stray > 0) mark(s"$stray Spark jobs of the served requests not attributed to a request")
    }
    completed.foreach { d =>
      // an evaluated request splits into the published closure (construct)
      // and the rest: plan, take, rendering and the HTTP response
      val phases = d.traced.filter(_.claimed.get).map(p =>
        Map("construct" -> p.constructNs, "execute" -> (d.latNs - p.constructNs))).getOrElse(Map.empty)
      ops += Op(d.req.kind, d.req.round, d.latNs, d.code == 200, if (d.code == 200) null else d.body,
        phases)
      d.traced.foreach(p => traces += p.trace)
    }
    extra("serve") = Map(
      "elapsed_s" -> elapsedNs / 1e9,
      "cache_hits" -> (hits1 - hits0),
      "cache_misses" -> (misses1 - misses0),
      "collapsed" -> (pub.collapsedStats - collapsed0),
      "codegen_s" -> (Tracer.codegenNs - cg0) / 1e9,
      "responses" -> completed.map(d => Map("query" -> d.req.query, "param" -> d.req.param,
        "value" -> d.req.value, "code" -> d.code, "body" -> d.body)))
    pub.stopServing()

    // traced runs also time fresh requests in-process, without HTTP
    if (tracer.isDefined) {
      val evals = (0 until 8).map { i =>
        val (name, params) =
          if (i % 2 == 0) ("order_by_key", Map("key" -> orderKeys.next().toString))
          else ("part_qty", Map("part" -> partKeys.next().toString))
        op(s"eval:$name", -1) { phase =>
          val df = phase("construct")(pub.run(name, params)).asInstanceOf[DataFrame]
          phase("plan")(df.queryExecution.executedPlan)
          phase("take")(df.take(1000))
        }._1
      }
      def med(xs: Seq[Long]): Double = { val s = xs.sorted; s(s.size / 2) / 1e6 }
      extra("serve_eval") = Map(
        "eval_ms" -> med(evals.map(_.wallNs)),
        "construct_ms" -> med(evals.map(_.phases("construct"))),
        "plan_ms" -> med(evals.map(_.phases("plan"))),
        "take_ms" -> med(evals.map(_.phases("take"))))
    }
    result(round, Map("data" -> dir))
  }

  // ---- refresh: spray -> curate -> build -> persist -> promote ----------

  def refresh(sf: String): Map[String, Any] = {
    val dir = s"$data/$sf"
    val csv = s"$data/export/lineitem_$sf.csv"
    val liSchema = spark.read.parquet(s"$dir/lineitem.parquet").schema
    val curate = SparkEntry.queries("q228_curation_dedup_pipeline")
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]

    def once(root: String, round: Int): Map[String, Any] = {
      val cat = new FileCatalog(spark, root)
      val raw = "bench::lineitem::raw"
      cat.register("bench::lineitem::gen0", s"$dir/lineitem.parquet")
      cat.transaction { t =>
        t.createSuperFile("bench::lineitem::current")
        t.createSuperFile("bench::lineitem::previous")
        t.addSuperFile("bench::lineitem::current", "bench::lineitem::gen0")
      }
      val idx = s"$root/index/lineitem_by_order"
      val bucketed = s"$root/bucketed/lineitem"
      val store = s"$root/persist"
      op("spray", round)(_ => cat.sprayDelimited(raw, csv, liSchema, cpus, sep = "|"))
      op("curate", round)(_ => cat.write("bench::documents::curated", curate(spark, s"$data/sf0.01")))
      op("index_build", round)(_ => IndexedTable.build(cat.read(raw), Seq("l_orderkey"), idx, cpus))
      op("bucket_build", round)(_ =>
        Bucketed.writeBucketed(cat.read(raw), s"bench_lineitem_r$round", "l_orderkey", cpus, bucketed))
      val (_, summary) = op("persist", round)(_ =>
        Workflow.persist(cat.read(raw).groupBy("l_returnflag", "l_linestatus").agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(25,6)")).as("qty"),
          sum(col("l_extendedprice").cast("decimal(25,6)")).as("price")), store, "lineitem_summary")
          .collect())
      op("promote", round)(_ => cat.promoteSuperFileList(
        Seq("bench::lineitem::current", "bench::lineitem::previous"), addHead = Some(raw)))
      // properties checked in-process: the superfile now reads the new
      // generation and the previous one holds the old
      val promoted = cat.superFileContents("bench::lineitem::current") == Seq(raw) &&
        cat.superFileContents("bench::lineitem::previous") == Seq("bench::lineitem::gen0") &&
        cat.readSuper("bench::lineitem::current").count() == cat.read(raw).count()
      spark.sql(s"DROP TABLE IF EXISTS bench_lineitem_r$round")
      Map("root" -> root,
        "raw" -> cat.info(raw).map(_._1),
        "curated" -> cat.info("bench::documents::curated").map(_._1),
        "index" -> idx, "bucketed" -> bucketed,
        "summary" -> summary.map(_.asInstanceOf[Array[Row]].toSeq.map(r =>
          Seq(r.getString(0), r.getString(1), r.getLong(2), r.getDecimal(3).toPlainString,
            r.getDecimal(4).toPlainString))),
        "promoted" -> promoted)
    }

    // no warm-up: a refresh is a batch job started in a fresh process, so
    // its first-use costs are paid on every run and belong in its time
    val t0 = System.nanoTime()
    var round = 0
    while (round == 0 || !deadlineReached(t0)) {
      round += 1
      val r = once(s"$runDir/refresh/round-$round", round)
      if (round == 1) rounds += r
      else deleteTree(new File(s"$runDir/refresh/round-$round"))
    }
    result(round, Map("data" -> dir, "csv" -> csv,
      "curate_sql" -> SparkEntry.oracleSql.get("q228_curation_dedup_pipeline"),
      "curate_data" -> s"$data/sf0.01", "rounds" -> rounds.toList))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }

  // ---- result -----------------------------------------------------------

  private def result(rounds: Int, checks: Map[String, Any]): Map[String, Any] = {
    val layers = tracer.map { t =>
      t.drain()
      t.attributePlans()
      val ids = traces.toSet
      val all = t.total(ids, Set.empty)
      val cons = t.total(ids, Set("construct"))
      val qe = t.total(ids, Set("qe"))
      def perRound(x: Double): Double = x / rounds
      def count(c: Counters, k: String, scale: Double = 1.0): Double = perRound(c(k) / scale)
      def phaseS(n: String): Double = perRound(ops.map(_.phases.getOrElse(n, 0L)).sum / 1e9)
      def stepS(n: String): Double = perRound(ops.filter(_.name == n).map(_.wallNs).sum / 1e9)
      Map(
        "construct_s" -> phaseS("construct"),
        "construct_jobs" -> count(cons, "jobs"),
        "plan_analysis_s" -> count(qe, "analysis_ms", 1e3),
        "plan_optimize_s" -> count(qe, "optimize_ms", 1e3),
        "plan_physical_s" -> count(qe, "physical_ms", 1e3),
        "codegen_compile_s" -> phaseS("codegen"),
        "plan_exchanges" -> count(qe, "exchanges"),
        "plan_scans" -> count(qe, "scans"),
        "exec_s" -> phaseS("execute"),
        "jobs" -> count(all, "jobs"),
        "stages" -> count(all, "stages"),
        "tasks" -> count(all, "tasks"),
        "task_run_s" -> count(all, "task_run_ms", 1e3),
        "task_cpu_s" -> count(all, "task_cpu_ns", 1e9),
        "task_gc_s" -> count(all, "task_gc_ms", 1e3),
        "input_bytes" -> count(all, "input_bytes"),
        "shuffle_write_bytes" -> count(all, "shuffle_write_bytes"),
        "shuffle_read_bytes" -> count(all, "shuffle_read_bytes"),
        "spill_bytes" -> count(all, "spill_bytes"),
        "result_bytes" -> count(all, "result_bytes"),
        "output_bytes" -> count(all, "output_bytes"),
        "spray_s" -> stepS("spray"),
        "curate_s" -> stepS("curate"),
        "index_build_s" -> stepS("index_build"),
        "bucket_build_s" -> stepS("bucket_build"),
        "persist_s" -> stepS("persist"),
        "promote_s" -> stepS("promote"))
    }
    Map(
      "setup_s" -> firstOpS,
      "rounds" -> rounds,
      "ops" -> ops.map(o => Map("name" -> o.name, "round" -> o.round,
        "wall_s" -> o.wallNs / 1e9, "ok" -> o.ok, "error" -> o.error)),
      "peak_rss_mb" -> peakRssMb,
      "layers" -> layers,
      "checks" -> checks) ++ extra
  }
}
