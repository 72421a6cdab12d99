package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.TextFunctions
import graft.operators.{Bootstrap, Dedup, EmbeddingStore, Encoder, HashingEncoder, TextAnalysis}
import graft.sources.{SqliteSnapshot, Tables}

/** One timed client call: which public function, how long, whether it
  * and every check on its output passed, and how many rows it returned. */
final case class Call(fn: String, ms: Double, ok: Boolean, rows: Int, span: Int)

/** A search the session client sends: by stored message id, or by free
  * text (`id` = -1), optionally within one conversation (`label`). */
final case class Query(fn: String, id: Long, text: String, label: Int)

/** The benchmark's JVM side. Runs one workload through graft's public
  * functions, checks every output, and writes the measured values to
  * `--out` as JSON; `run.py` builds this, makes the inputs and prints
  * the result. */
object Main {
  val k = 10

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(a, b) => a.stripPrefix("--") -> b }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = opt("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, opt("data"), opt("queries"), work, opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1")
    try {
      opt("workload") match {
        case "prepare_live" => run.prepareLive()
        case "live_session" => run.liveSession((System.nanoTime() - t0) / 1e9)
        case "curate_batch" => run.curateBatch()
        case w => sys.error(s"unknown workload $w")
      }
      run.finish(opt("out"))
      run.log("result written")
    } finally spark.stop()
    run.log("session stopped")
  }
}

final class Run(spark: SparkSession, data: String, queries: String, work: String,
    seed: Long, seconds: Double, trace: Boolean) {
  import Main.k

  val tracer = new Tracer
  val ledger = new Ledger
  spark.sparkContext.addSparkListener(ledger)

  val metrics = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val failures = ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  // the timed calls of the measured phase; `traced` marks the second
  // loop of a trace run, the first being the untraced baseline
  val calls = ArrayBuffer[(Call, Boolean)]()
  val ops = ArrayBuffer[(Double, Boolean)]()

  def tracing(b: Boolean): Unit = { tracer.on = b; ledger.on = b }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  def fail(what: String): Boolean = { if (failures.size < 20) failures += what; false }

  def lines(name: String): Array[String] = {
    val s = Source.fromFile(if (name.startsWith("/")) name else s"$data/$name", "UTF-8")
    try s.getLines().toArray finally s.close()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The median; of an even count, the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length()

  /** Parquet data files under `f`, skipping metadata dirs (`_manifest`). */
  def dataFiles(f: File): Seq[File] =
    if (f.getName.startsWith("_")) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  /** The closed loop: one client, the next operation only after the
    * previous returned, until `budget` seconds have passed. A trace run
    * runs it twice, untraced and then traced, for the overhead. */
  def closedLoop(budget: Double)(op: () => Boolean): Unit = {
    val phases = if (trace) Seq(false, true) else Seq(false)
    phases.foreach { traced =>
      tracing(traced)
      val t0 = System.nanoTime()
      var more = true
      while (more && (System.nanoTime() - t0) / 1e9 < budget)
        more = op()
      log(s"timed phase${if (traced) " (traced)" else ""}: ${ops.count(_._2 == traced)} operations")
    }
    tracing(false)
  }

  // ---- search: the exact scan the IVF answers are checked against -----

  /** The store as driver arrays, read with plain Spark (no graft code),
    * so exact top-k and scores are computed independently of the
    * kernels under test. */
  final class Exact {
    val ids = ArrayBuffer[Long]()
    val vecs = ArrayBuffer[Array[Float]]()
    val norms = ArrayBuffer[Double]()
    val index = mutable.HashMap[Long, Int]()

    def load(store: String, above: Long): Unit =
      spark.read.parquet(store).filter(col("doc_id") > above)
        .select(col("doc_id"), col("embedding")).collect().foreach { r =>
          val v = r.getSeq[Float](1).toArray
          index(r.getLong(0)) = ids.size
          ids += r.getLong(0); vecs += v
          norms += math.sqrt(v.map(x => x.toDouble * x).sum)
        }

    def cosine(q: Array[Float], qn: Double, i: Int): Double = {
      val v = vecs(i)
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += q(j).toDouble * v(j); j += 1 }
      if (qn == 0 || norms(i) == 0) 0.0
      else math.round(dot / (qn * norms(i)) * 1e6) / 1e6
    }

    /** (doc_id, 6-dp score) of the top k, score desc then id asc. */
    def topK(q: Array[Float], exclude: Long, keep: Long => Boolean): Seq[(Long, Double)] = {
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      ids.indices.iterator
        .filter(i => ids(i) != exclude && keep(ids(i)))
        .map(i => (ids(i), cosine(q, qn, i)))
        .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    }
  }

  /** The session's query stream, in blocks of ten calls shuffled per
    * block: six IVF searches by stored id, two free-text searches
    * through the batch probe, one IVF search within the query's
    * conversation and one brute-force search, so every run sees the same
    * mix. Ids favour recent messages; about 30% of the calls repeat an
    * earlier query of the same function. */
  final class QueryStream(seed: Long, texts: Array[String], labels: Array[Int]) {
    private val rng = new Random(seed)
    private val block = ArrayBuffer[String]()
    private val history = mutable.Map[String, ArrayBuffer[Query]]()

    def next(n: Long): Query = {
      if (block.isEmpty) block ++= rng.shuffle(Seq.fill(6)(searchFns(0)) ++
        Seq.fill(2)(searchFns(1)) ++ Seq(searchFns(2), searchFns(3)))
      val fn = block.remove(0)
      val past = history.getOrElseUpdate(fn, ArrayBuffer[Query]())
      val q =
        if (past.nonEmpty && rng.nextDouble() < 0.3) past(rng.nextInt(past.size))
        else {
          val id = math.max(1L, n - math.floor(n * math.pow(rng.nextDouble(), 3)).toLong)
          if (fn == searchFns(1)) Query(fn, -1L, texts(rng.nextInt(texts.length)), -1)
          else Query(fn, id, "", if (fn == searchFns(2)) labels((id - 1).toInt) else -1)
        }
      past += q
      q
    }
  }

  /** Search state: the store and index paths a query runs against. */
  final class Searcher(enc: Encoder, labels: Array[Int]) {
    var store = ""
    var ivf = ""
    var meta: DataFrame = _
    val exact = new Exact
    val recall = ArrayBuffer[Double]()

    def queryFrame(text: String): DataFrame =
      EmbeddingStore.embedWith(enc,
        spark.createDataFrame(Seq((-1L, text))).toDF("doc_id", "text"))
        .select(col("doc_id").as("query_id"), col("embedding").as("qv"))

    def call(q: Query): Array[Row] = q.fn match {
      case "EmbeddingStore.searchIvf" =>
        EmbeddingStore.searchIvf(spark, ivf, q.id, k).collect()
      case "EmbeddingStore.searchIvfBatch" =>
        EmbeddingStore.searchIvfBatch(spark, ivf, queryFrame(q.text), k).collect()
      case "EmbeddingStore.searchIvfFiltered" =>
        EmbeddingStore.searchIvfFiltered(spark, ivf, meta, q.id, k, 4, q.label).collect()
      case "EmbeddingStore.search" =>
        EmbeddingStore.search(spark, store, q.id, k).collect()
    }

    /** Every result: at most k rows, scores in [-1, 1] and
      * non-increasing, equal to the exact cosine of the row, the query
      * id excluded, the filter's predicate held; brute force equals the
      * exact top k; IVF recall is taken against the exact top k. */
    def check(q: Query, rows: Array[Row]): Boolean = {
      val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
      val what = s"${q.fn}(id=${q.id}, label=${q.label})"
      val qv =
        if (q.id >= 0) exact.index.get(q.id).map(exact.vecs(_))
        else Some(queryFrame(q.text).first().getSeq[Float](1).toArray)
      if (qv.isEmpty) return fail(s"$what: query id not in the store")
      val keep: Long => Boolean =
        if (q.label >= 0) id => labels((id - 1).toInt) == q.label else _ => true
      val want = exact.topK(qv.get, q.id, keep)
      val qn = math.sqrt(qv.get.map(x => x.toDouble * x).sum)
      val scores = got.map(_._2)
      if (got.size > k) fail(s"$what: ${got.size} rows > k")
      else if (scores.exists(s => s < -1 - 1e-9 || s > 1 + 1e-9)) fail(s"$what: score outside [-1, 1]")
      else if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a }) fail(s"$what: scores increase")
      else if (got.exists(_._1 == q.id)) fail(s"$what: the query id is in its own result")
      else if (got.exists { case (id, _) => !exact.index.contains(id) }) fail(s"$what: unknown doc id")
      else if (got.exists { case (id, s) =>
        math.abs(exact.cosine(qv.get, qn, exact.index(id)) - s) > 2e-6 }) fail(s"$what: wrong score")
      else if (!got.forall(g => keep(g._1)) ||
        (q.label >= 0 && !rows.forall(_.getAs[Int]("label") == q.label))) fail(s"$what: filter not held")
      else if (q.fn == "EmbeddingStore.search" &&
        (scores.size != want.size || scores.zip(want).exists { case (a, b) => math.abs(a - b._2) > 2e-6 }))
        fail(s"$what: brute force differs from the exact top $k")
      else if (q.fn != "EmbeddingStore.searchIvfFiltered" && got.size != math.min(k, want.size))
        fail(s"$what: ${got.size} rows, want ${math.min(k, want.size)}")
      else {
        if (q.fn != "EmbeddingStore.search" && want.nonEmpty) {
          val kth = want.last._2
          recall += math.min(1.0, got.count(_._2 >= kth - 1e-6).toDouble / want.size)
        }
        true
      }
    }

    /** Untimed: recall@10 of the IVF probe for 100 stored messages,
      * recency-biased like the session's queries, in one batch call
      * against the exact scan. Added to the session's IVF calls, it
      * makes the recall figure rest on enough queries to be steady. */
    def evaluate(rng: Random, n: Long): Unit = {
      val ids = Seq.fill(100)(math.max(1L, n - math.floor(n * math.pow(rng.nextDouble(), 3)).toLong)).distinct
      val qs = spark.createDataFrame(ids.map(id => (id, exact.vecs(exact.index(id)).toSeq)))
        .toDF("query_id", "qv").select(col("query_id"), col("qv").cast("array<float>").as("qv"))
      val rows = try EmbeddingStore.searchIvfBatch(spark, ivf, qs, k).collect()
        catch { case e: Exception => fail(s"recall batch: ${e.getMessage}"); Array.empty[Row] }
      val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
      attempted += 1
      val ok = ids.forall { id =>
        val got = byQuery.getOrElse(id, Array.empty[Row]).map(_.getAs[Double]("score"))
        val want = exact.topK(exact.vecs(exact.index(id)), id, _ => true)
        if (got.length != want.size) false
        else { recall += got.count(_ >= want.last._2 - 1e-6).toDouble / want.size; true }
      }
      if (!ok) { failed += 1; fail("recall batch: a query got fewer than k rows") }
    }

    /** One timed search call, checked after the clock stops. */
    def timedCall(q: Query, req: String): Call = {
      val span = tracer.spans.size
      val (rows, ms) = timed(
        try Some(tracer(q.fn, req)(call(q)))
        catch { case e: Exception => fail(s"${q.fn}: ${e.getMessage}"); None })
      val ok = rows.exists(check(q, _))
      Call(q.fn, ms, ok, rows.map(_.length).getOrElse(0), if (tracer.on) span else -1)
    }
  }

  def record(c: Call): Unit = {
    attempted += 1
    if (!c.ok) failed += 1
    calls += ((c, tracer.on))
  }

  // ---- workloads ---------------------------------------------------------

  def metaFrame(events: String): DataFrame =
    spark.read.parquet(events).select(col("event_id").as("vec_id"),
      (col("session_id") - 5000000000L).cast("int").as("label"))

  /** The persisted base a live session restarts over: the reference's
    * cold start (snapshot, extract, embed, store, IVF index) of the base
    * chat store into `work/cold`, its report read back and checked.
    * run.py makes it once per build. */
  def prepareLive(): Unit = {
    val expected = lines("chat/counts.txt").head.toLong
    val dir = s"$work/cold"
    val (rep, ms) = timed(Bootstrap.coldStart(Tables(spark, dir), s"$data/chat/v0", dir,
      None, EmbeddingStore.defaultEncoder))
    val counts = Seq(rep.nEvents, rep.nExtracted, rep.nStored, rep.nIndexed)
    if (counts.exists(_ != expected))
      sys.error(s"coldStart read back $counts, generated $expected")
    log(f"cold start ${ms / 1e3}%.1f s")
  }

  /** The reference's search server restarting over its persisted store
    * and index while the chat store keeps growing: set-up is the Spark
    * session plus the first increment and the first call of each search
    * function; then a closed-loop session of searches in which, before
    * every fifth call, an increment of new messages arrives and is made
    * searchable first. */
  def liveSession(sessionS: Double): Unit = {
    val counts = lines("chat/counts.txt").map(_.toLong)
    val labels = lines("chat/labels.txt").map(_.toInt)
    val enc = EmbeddingStore.defaultEncoder
    val live = s"$work/live"
    def arrive(v: Int): Unit = {
      // the chat client writing new messages into the live store
      val dst = Paths.get(live, "main_1756000000.sqlite")
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$data/chat/v$v/main_1756000000.sqlite"), dst,
        StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(System.currentTimeMillis())
    }
    val dir = s"$work/cold"
    val s = new Searcher(enc, labels)
    s.store = s"$dir/store"; s.ivf = s"$dir/ivf"
    val texts = lines(queries)
    val stream = new QueryStream(seed, texts, labels)
    var watermark = counts(0)
    var v = 0
    val loads = ArrayBuffer[(Double, Double, Long)]()
    val updates = ArrayBuffer[(Double, Long, Boolean)]()

    /** New messages to searchable: snapshot the live store, load it,
      * keep messages past the watermark, extract, embed, append to the
      * store and to the index. */
    def increment(): Unit = {
      v += 1
      arrive(v)
      val inc = s"$work/inc$v"
      val (ok, ms) = timed(try {
        tracer("increment", s"inc$v") {
          val snap = tracer("SqliteSnapshot.createSnapshot")(
            SqliteSnapshot.createSnapshot(SqliteSnapshot.findLatestDatabase(live),
              s"$work/snapshots"))
          val (rows, loadMs) = timed(tracer("SqliteSnapshot.loadEvents")(
            SqliteSnapshot.loadEvents(spark, snap, inc)))
          loads += ((loadMs, rows.toDouble, new File(snap).length()))
          tracer("TextFunctions.extract") {
            spark.read.parquet(s"$inc/events.parquet")
              .filter(col("event_id") > watermark)
              .select(col("event_id").as("doc_id"),
                TextFunctions.extractText(col("props"), col("event_type")).as("text"))
              .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
              .write.mode("overwrite").parquet(s"$inc/docs.parquet")
          }
          tracer("EmbeddingStore.embed_store")(EmbeddingStore.store(
            EmbeddingStore.embedWith(enc, spark.read.parquet(s"$inc/docs.parquet")),
            s.store, append = true))
          tracer("EmbeddingStore.appendToIvfIndex")(EmbeddingStore.appendToIvfIndex(
            spark, s.ivf, spark.read.parquet(s.store).filter(col("doc_id") > watermark)
              .select(col("doc_id"), col("embedding"))))
        }
        true
      } catch { case e: Exception => fail(s"increment $v: ${e.getMessage}") })
      // untimed: the store holds the running total, the new vectors join
      // the exact scan, older snapshot copies and increment dirs go
      val stored = spark.read.parquet(s.store).count()
      val good = ok && (stored == counts(v) ||
        fail(s"increment $v: store holds $stored, want ${counts(v)}"))
      if (s.exact.ids.nonEmpty) s.exact.load(s.store, watermark)
      updates += ((ms, counts(v) - watermark, tracer.on))
      watermark = counts(v)
      s.meta = metaFrame(s"$inc/events.parquet")
      if (v > 1) deleteTree(new File(s"$work/inc${v - 1}"))
      Option(new File(s"$work/snapshots").listFiles()).toSeq.flatten
        .sortBy(_.getName).dropRight(1).foreach(_.delete())
      attempted += 1
      if (!good) failed += 1
    }

    // set-up: the server's first increment and first call of each
    // search function (unchecked: the exact scan loads after them)
    val (_, warmMs) = timed {
      arrive(0)
      increment()
      val warm = new QueryStream(seed + 1, texts, labels)
      Iterator.continually(warm.next(watermark)).take(10).toSeq.groupBy(_.fn).values
        .map(_.head).foreach(s.call)
    }
    metrics("setup_s") = sessionS + warmMs / 1e3
    loads.clear(); updates.clear()
    s.exact.load(s.store, -1L)
    log("set up")
    val lastVersion = counts.length - 1
    val fresh = new Random(seed + 2)
    var i = 0
    closedLoop(seconds) { () =>
      i += 1
      if (i % 5 == 1) {
        if (v >= lastVersion) false
        else {
          // an increment arrives; one of its messages is searched at once
          val before = watermark
          increment()
          val id = before + 1 + fresh.nextInt((watermark - before).toInt)
          val c = s.timedCall(Query(searchFns(0), id, "", -1), s"inc$v.fresh")
          record(c); ops += ((c.ms, tracer.on))
          true
        }
      } else {
        val c = s.timedCall(stream.next(watermark), s"inc$v.q$i")
        record(c); ops += ((c.ms, tracer.on))
        true
      }
    }
    if (v >= lastVersion) fail(s"ran out of increments after $v")
    log("timed phase done")
    layer("live.session_recall") = s.recall.sum / math.max(1, s.recall.size)
    s.evaluate(new Random(seed + 3), watermark)
    val lat = ops.map(_._1).toSeq
    metrics("op_p50_ms") = median(lat)
    metrics("items_per_s") = updates.map(_._2).sum / (updates.map(_._1).sum / 1e3)
    metrics("recall") = s.recall.sum / math.max(1, s.recall.size)
    layer("live.update_p50_s") = median(updates.map(_._1 / 1e3).toSeq)
    layer("live.searches_per_s") = lat.size / (lat.sum / 1e3)
    layer("store.disk_bytes_per_msg") =
      (treeBytes(new File(s.store)) + treeBytes(new File(s.ivf))).toDouble / watermark
    layer("SqliteSnapshot.load_s") = median(loads.map(_._1 / 1e3).toSeq)
    layer("SqliteSnapshot.rows_per_s") = median(loads.map(l => l._2 / (l._1 / 1e3)).toSeq)
    layer("SqliteSnapshot.bytes_read") = median(loads.map(_._3.toDouble).toSeq)
    val cells = new File(s"${s.ivf}/cells")
    layer("TableFormat.generations") = Option(cells.listFiles()).toSeq.flatten
      .count(_.getName.startsWith("commit_")).toDouble
    layer("IndexCatalog.cell_files") = dataFiles(cells).size.toDouble
    if (trace) liveLayers()
  }

  def curateBatch(): Unit = {
    val nDocs = lines("docs/count.txt").head.toLong
    val planted = lines("docs/near_pairs.txt").map { l =>
      val Array(a, b) = l.split(' ').map(_.toLong); (a, b)
    }.toSet
    val schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    val setups = (0 until 3).map { j =>
      val dir = s"$work/docs$j"
      if (j > 0) deleteTree(new File(s"$work/docs${j - 1}"))
      val (n, ms) = timed {
        spark.read.schema(schema).json(s"$data/docs/docs.jsonl")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        spark.read.parquet(s"$dir/documents.parquet").count()
      }
      attempted += 1
      if (n != nDocs) { failed += 1; fail(s"corpus load read back $n docs, generated $nDocs") }
      ms / 1e3
    }
    metrics("setup_s") = median(setups)
    val t = Tables(spark, s"$work/docs2")
    val fns: Seq[(String, String, Tables => DataFrame)] = Seq(
      ("TextAnalysis.pipelineE2e", "q_pipeline_e2e", TextAnalysis.pipelineE2e _),
      ("Dedup.dedupMinhash", "q_dedup_minhash", Dedup.dedupMinhash _),
      ("Dedup.dedupSimhash", "q_dedup_simhash", Dedup.dedupSimhash _))
    // untimed warm-up: one pass
    fns.foreach { case (_, _, f) => f(t).collect() }
    log("warm")
    val first = mutable.Map[String, (org.apache.spark.sql.types.StructType, Array[Row])]()
    var found = Set[(Long, Long)]()
    def pass(req: String): Unit = {
      val (_, ms) = timed(tracer("curate", req)(fns.foreach { case (fn, _, f) =>
        val span = tracer.spans.size
        val (out, callMs) = timed(
          try { val df = f(t); Some((df.schema, tracer(fn)(df.collect()))) }
          catch { case e: Exception => fail(s"$fn: ${e.getMessage}"); None })
        val canon = (rows: Array[Row]) => rows.map(_.toString).sorted.toSeq
        val ok = out.exists { case o @ (_, rows) =>
          canon(first.getOrElseUpdate(fn, o)._2) == canon(rows) ||
            fail(s"$fn: output differs between passes")
        }
        if (fn.startsWith("Dedup")) out.foreach(_._2.foreach(r =>
          found += ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))))
        record(Call(fn, callMs, ok, out.map(_._2.length).getOrElse(0),
          if (tracer.on) span else -1))
      }))
      ops += ((ms, tracer.on))
    }
    var i = 0
    closedLoop(seconds) { () => i += 1; pass(s"pass$i"); true }
    val passMs = ops.map(_._1).toSeq
    metrics("op_p50_ms") = median(passMs)
    metrics("items_per_s") = nDocs * passMs.size / (passMs.sum / 1e3)
    metrics("recall") = planted.count(p => found(p) || found(p.swap)).toDouble /
      math.max(1, planted.size)
    // the first timed output of each function goes to run.py, which
    // replays the function's oracle SQL in DuckDB over the same corpus
    fns.foreach { case (fn, q, _) =>
      first.get(fn).foreach { case (schema, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(s"$work/oracle/$q")
      }
      val w = new PrintWriter(s"$work/oracle/$q.sql", "UTF-8")
      try w.write(SparkEntry.oracleSql(q)) finally w.close()
    }
    if (trace) curateLayers(fns.map(_._1))
  }

  // ---- trace: per-layer ledger ---------------------------------------------

  lazy val jobSpan: Map[Int, Int] = ledger.synchronized {
    ledger.jobs.values.flatMap { j =>
      tracer.spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => -s.startNs).headOption.map(s => j.id -> s.id)
    }.toMap
  }

  lazy val children: Map[Int, Seq[Span]] = tracer.spans.toSeq.groupBy(_.parent)

  def subtree(id: Int): Seq[Int] =
    id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))

  def jobsUnder(id: Int): Seq[Job] = {
    val ids = subtree(id).toSet
    ledger.jobs.values.filter(j => jobSpan.get(j.id).exists(ids)).toSeq
  }

  def workUnder(ids: Seq[Int]): Work = {
    val w = new Work
    ids.flatMap(jobsUnder).foreach(j => w.add(j.work))
    w
  }

  def spansNamed(name: String): Seq[Span] = tracer.spans.filter(_.name == name).toSeq

  /** Wall time of a span during which no Spark job of it was running. */
  def driverMs(s: Span): Double = {
    val iv = jobsUnder(s.id).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))).sortBy(_._1)
    var covered = 0L; var upTo = s.startMs
    iv.foreach { case (a, b) =>
      val lo = math.max(a, upTo)
      if (b > lo) { covered += b - lo; upTo = b }
    }
    math.max(0.0, s.ms - covered)
  }

  val searchFns = Seq("EmbeddingStore.searchIvf", "EmbeddingStore.searchIvfBatch",
    "EmbeddingStore.searchIvfFiltered", "EmbeddingStore.search")

  def searchLayers(): Unit = searchFns.foreach { fn =>
    val traced = calls.filter(c => c._2 && c._1.fn == fn && c._1.span >= 0).map(_._1)
    val ss = traced.map(c => tracer.spans(c.span))
    val n = math.max(1, ss.size)
    val w = workUnder(ss.map(_.id).toSeq)
    val files = ss.map(s => ledger.execFiles.values
      .filter { case (t, _) => t >= s.startMs && t <= s.endMs }.map(_._2).sum).sum
    layer(s"$fn.p50_ms") = median(ss.map(_.ms).toSeq)
    layer(s"$fn.jobs_per_call") = w.jobs.toDouble / n
    layer(s"$fn.tasks_per_call") = w.tasks.toDouble / n
    layer(s"$fn.driver_ms_per_call") = ss.map(driverMs).sum / n
    layer(s"$fn.files_read_per_call") = files.toDouble / n
    layer(s"$fn.rows_scanned_per_result") =
      w.records.toDouble / math.max(1, traced.map(_.rows).sum)
  }

  def liveLayers(): Unit = {
    def med(name: String, f: Span => Double) = median(spansNamed(name).map(f))
    layer("TextFunctions.extract_s") = med("TextFunctions.extract", _.ms / 1e3)
    layer("EmbeddingStore.embed_store_s") = med("EmbeddingStore.embed_store", _.ms / 1e3)
    layer("EmbeddingStore.embed_store_jobs") =
      med("EmbeddingStore.embed_store", s => workUnder(Seq(s.id)).jobs.toDouble)
    layer("EmbeddingStore.appendToIvfIndex.s") = med("EmbeddingStore.appendToIvfIndex", _.ms / 1e3)
    layer("EmbeddingStore.appendToIvfIndex.jobs") =
      med("EmbeddingStore.appendToIvfIndex", s => workUnder(Seq(s.id)).jobs.toDouble)
  }

  def curateLayers(fns: Seq[String]): Unit = fns.foreach { fn =>
    val ss = calls.filter(c => c._2 && c._1.fn == fn && c._1.span >= 0)
      .map(c => tracer.spans(c._1.span)).toSeq
    val n = math.max(1, ss.size)
    val w = workUnder(ss.map(_.id))
    layer(s"$fn.s") = median(ss.map(_.ms / 1e3))
    layer(s"$fn.jobs") = w.jobs.toDouble / n
    layer(s"$fn.shuffle_write_bytes") = w.shuffleWrite.toDouble / n
    layer(s"$fn.spill_bytes") = w.spill.toDouble / n
  }

  val layerOf: Map[String, String] = Map(
    "SqliteSnapshot" -> "sources", "TextFunctions" -> "functions",
    "EmbeddingStore" -> "operators", "Bootstrap" -> "operators",
    "Dedup" -> "operators", "TextAnalysis" -> "operators")

  def traceLayers(): Unit = {
    searchLayers()
    // the Spark scheduler under every traced call of the timed phase
    // (searches, increments, curation calls), per call
    val opSpans = tracer.spans.filter(_.parent == -1).toSeq
    val n = math.max(1, opSpans.size)
    val w = workUnder(opSpans.map(_.id))
    layer("spark.jobs") = w.jobs.toDouble / n
    layer("spark.tasks") = w.tasks.toDouble / n
    layer("spark.scheduler_delay_ms") = w.schedMs.toDouble / n
    layer("spark.executor_run_ms") = w.runMs.toDouble / n
    layer("spark.gc_ms") = w.gcMs.toDouble / n
    layer("spark.spill_bytes") = w.spill.toDouble / n
    layer("spark.task_failures") = w.failures.toDouble
    layer("spark.pinned_bytes_peak") = ledger.pinnedPeak.toDouble
    // self time per layer, per call of the traced timed phase
    val inPhase = opSpans.flatMap(s => subtree(s.id)).map(tracer.spans(_))
    val self = inPhase.groupBy(s => layerOf.getOrElse(s.name.takeWhile(_ != '.'), "client"))
      .map { case (l, ss) => l -> ss.map(tracer.selfMs).sum / n }
    Seq("client", "sources", "functions", "operators").foreach(l =>
      layer(s"$l.self_ms_per_op") = self.getOrElse(l, 0.0))
    val untraced = ops.filter(!_._2).map(_._1).toSeq
    val traced = ops.filter(_._2).map(_._1).toSeq
    layer("trace.overhead_ms_per_op") = median(traced) - median(untraced)
    layer("trace.spans") = tracer.spans.size.toDouble
    writeSpans(s"$work/spans.jsonl")
    val out = new PrintWriter(s"$work/jobs.jsonl", "UTF-8")
    try ledger.jobs.values.foreach { j =>
      out.println(s"""{"job":${j.id},"span":${jobSpan.getOrElse(j.id, -1)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.work.tasks},""" +
        s""""run_ms":${j.work.runMs},"shuffle_write":${j.work.shuffleWrite}}""")
    } finally out.close()
  }

  def writeSpans(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try tracer.spans.foreach { s =>
      val js = jobsUnder(s.id).count(j => jobSpan.get(j.id).contains(s.id))
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""req":"${s.req}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""ms":${s.ms}%.3f,"self_ms":${tracer.selfMs(s)}%.3f,"jobs":$js}""")
    } finally w.close()
  }

  /** The largest JVM memory in use right after a garbage collection:
    * the peak live set, which GC timing moves far less than RSS. */
  @volatile var peakAfterGc = 0L
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          var used = 0L
          info.getGcInfo.getMemoryUsageAfterGc.forEach((_, u) => used += u.getUsed)
          peakAfterGc = math.max(peakAfterGc, used)
        }, null, null)
    case _ =>
  }

  def peakRssMb: Double = {
    val s = Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally s.close()
  }

  def finish(out: String): Unit = {
    metrics("peak_heap_mb") = peakAfterGc / 1048576.0
    layer("jvm.peak_rss_mb") = peakRssMb
    if (trace) traceLayers()
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }.mkString("{", ",", "}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val w = new PrintWriter(out, "UTF-8")
    try w.write(s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""calls":${obj(calls.groupBy(_._1.fn).map { case (f, cs) => f -> cs.size.toDouble })},""" +
      s""""metrics":${obj(metrics)},"layer":${obj(layer)},""" +
      s""""latencies":${calls.map(c => s"[${str(c._1.fn)},${c._1.ms}]").mkString("[", ",", "]")},""" +
      s""""failures":${failures.map(str).mkString("[", ",", "]")}}""")
    finally w.close()
  }
}
