package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.operators.JoinSearch
import graft.oracle.SearchOracle
import graft.sources.{Corpus, IndexBuilder}
import graft.streaming.{DeltaLog, IndexStream}

/** The serving loop the benchmark times: one client thread, closed
  * loop, engine in-process on `local[cores]`. Reads a plan written by
  * `run.py` (the seeded query tables are already on disk), sets the
  * engine up once, timed from JVM start, primes it, runs the
  * workload's requests until the deadline, runs the fixed traced layer
  * section when tracing, and writes every raw observation to
  * `result.json`. All metrics and the answer check are computed from
  * that file by `run.py`, outside the timed region.
  *
  * Usage: `Serve <plan.json> <result.json>`
  */
object Serve {

  final case class Query(id: String, path: String, cols: Seq[String], shape: String)
  final case class Cycle(id: String, staged: String, landed: String,
      query: Query, compact: Boolean)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def query(n: JsonNode): Query = Query(n.get("id").asText, n.get("path").asText,
    n.get("cols").elements.asScala.map(_.asText).toSeq, n.get("shape").asText)

  private def cycle(n: JsonNode): Cycle = Cycle(n.get("id").asText,
    n.get("staged").asText, n.get("landed").asText, query(n.get("query")),
    n.get("compact").asBoolean)

  private def list(n: JsonNode): Seq[JsonNode] =
    Option(n).map(_.elements.asScala.toSeq).getOrElse(Nil)

  private def now(): Long = System.currentTimeMillis()

  /** One ingest stream: the file source its cycles land rows in, and
    * the delta and checkpoint dirs `IndexStream.maintain` writes.
    */
  final case class Stream(name: String, src: String, delta: String, ckpt: String)

  /** Schema of the ingest source files: re-keyed customer and part rows
    * side by side, told apart by `tbl`.
    */
  val LandSchema: StructType = StructType(Seq(
    StructField("tbl", StringType), StructField("c_custkey", LongType),
    StructField("c_name", StringType), StructField("c_mktsegment", StringType),
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType)))

  /** Raw-cell SQL of the landed rows, in the form of
    * `SearchOracle.indexCtes`, over a DuckDB view named `landed_rows`.
    */
  def landedRawSql: String =
    Seq("customer", "part").flatMap { name =>
      val t = Corpus.byName(name)
      t.textCols.zipWithIndex.map { case (c, i) =>
        s"""SELECT cast("$c" as varchar) AS raw, ${t.id} AS table_id, ${i + 1} AS column_id, cast(${t.rowIdExpr} as bigint) AS row_id FROM landed_rows WHERE tbl = '$name'"""
      }
    }.mkString("\n    UNION ALL ")

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = new File(args(1))
    val workload = plan.get("workload").asText
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asBoolean
    val cores = plan.get("cores").asInt
    val work = plan.get("work").asText
    val lake = plan.get("lake").asText
    val warmup = list(plan.get("warmup")).map(query)
    val prime = plan.get("prime")
    val loop = list(plan.get("loop"))
    val layer = plan.get("layer")
    // the workload's own stream, and a fresh one for the layer section
    val streams = Seq("main", "layer").map(n =>
      n -> Stream(n, s"$work/ingest-src-$n", s"$work/deltas-$n", s"$work/ingest-ckpt-$n")).toMap
    streams.values.foreach(st => new File(st.src).mkdirs())

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val oracle = mutable.LinkedHashMap.empty[String, String]
    var tracer: Tracer = null
    var spark: SparkSession = null
    var index: DataFrame = null
    var seq = 0
    var evict: Map[String, Any] = Map.empty

    def group[T](id: String)(body: => T): T =
      if (!trace || id == null) body
      else {
        spark.sparkContext.setJobGroup(id, id)
        try body finally spark.sparkContext.clearJobGroup()
      }

    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

    def timed[T](body: => T): (T, Double) = {
      val t = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t) / 1e9)
    }

    def readQuery(q: Query): DataFrame = spark.read.parquet(q.path)

    def remember(q: Query): Unit =
      oracle.getOrElseUpdate(q.id, SearchOracle.tableScores(
        SearchOracle.QuerySpec(s"SELECT * FROM read_parquet('${q.path}')", q.cols)))

    val landedFrames = mutable.Map.empty[String, DataFrame]
    def landed(st: Stream): DataFrame = landedFrames.getOrElseUpdate(st.name, {
      val rows = spark.readStream.schema(LandSchema).parquet(st.src)
      def branch(name: String): DataFrame = IndexStream.postings(
        rows.where(col("tbl") === name), Corpus.byName(name))
      branch("customer").unionByName(branch("part"))
    })

    /** One request: runs `body` under its own job group (traced) and
      * records wall time, answer or error, and persist-registry deltas.
      */
    def request(phase: String, kind: String, ids: Seq[String], traced: Boolean,
        extra: Map[String, Any] = Map.empty)(
        body: mutable.Map[String, Any] => Seq[Seq[Any]]): Unit = {
      seq += 1
      val rid = s"$phase-$seq"
      val before = if (traced) persisted() else Set.empty[Int]
      val parts = mutable.LinkedHashMap.empty[String, Any]
      val t0 = now()
      val n0 = System.nanoTime()
      val (answer, error) =
        try (group(if (traced) rid else null)(body(parts)), null)
        catch { case e: Throwable => (Nil, s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = now()
      val cache: Map[String, Any] =
        if (!traced) Map.empty
        else {
          val after = persisted()
          Map("new" -> (after -- before).size, "evicted" -> (before -- after).size)
        }
      records += Map[String, Any]("id" -> rid, "phase" -> phase, "kind" -> kind,
        "query_ids" -> ids, "traced" -> traced, "t0" -> t0, "t1" -> t1,
        "wall_s" -> wall, "error" -> error, "answer" -> answer,
        "parts" -> parts.toMap, "cache" -> cache) ++ extra
    }

    def search(phase: String, q: Query, traced: Boolean, section: String = null): Unit = {
      remember(q)
      request(phase, "search", Seq(q.id), traced, Map("section" -> section)) { _ =>
        JoinSearch.searchTables(index, readQuery(q), q.cols).collect().toSeq
          .map(r => Seq(q.id, r.getInt(0), r.getLong(1)))
      }
    }

    def batch(phase: String, qs: Seq[Query], traced: Boolean, section: String = null): Unit = {
      qs.foreach(remember)
      request(phase, "batch", qs.map(_.id), traced, Map("section" -> section)) { _ =>
        JoinSearch.searchTablesBatch(index,
          qs.map(q => (q.id, readQuery(q), q.cols))).collect().toSeq
          .map(r => Seq(r.getString(0), r.getInt(1), r.getLong(2)))
      }
    }

    def ingest(phase: String, c: Cycle, traced: Boolean, st: Stream): Unit = {
      remember(c.query)
      val landedPath = Paths.get(st.src, c.landed)
      request(phase, "cycle", Seq(c.query.id), traced, Map("cycle" -> c.id,
        "stream" -> st.name, "landed" -> landedPath.toString, "section" -> "cycle")) { parts =>
        val (_, maintainS) = timed {
          Files.move(Paths.get(c.staged), landedPath, StandardCopyOption.ATOMIC_MOVE)
          IndexStream.maintain(landed(st), st.delta, st.ckpt).awaitTermination()
        }
        parts("maintain_s") = maintainS
        parts("delta_bytes") = Option(new File(st.delta).listFiles).toSeq.flatten
          .filter(_.getName.startsWith("batch="))
          .maxByOption(_.getName.stripPrefix("batch=").toLong).map(dirBytes).getOrElse(0L)
        if (c.compact) {
          val (_, compactS) = timed(IndexStream.compactDeltasInPlace(spark, st.delta))
          parts("compact_s") = compactS
        }
        val (live, resolveS) = timed(IndexStream.loadWithDeltas(spark, lake, st.delta))
        parts("resolve_s") = resolveS
        parts("live_parts") = DeltaLog.liveParts(spark, st.delta, "").size
        val (ans, searchS) = timed(
          JoinSearch.searchTables(live, readQuery(c.query), c.query.cols).collect().toSeq)
        parts("search_s") = searchS
        ans.map(r => Seq(c.query.id, r.getInt(0), r.getLong(1)))
      }
    }

    def loopItem(phase: String, n: JsonNode, traced: Boolean): Unit =
      n.get("kind").asText match {
        case "search" => search(phase, query(n.get("query")), traced)
        case "batch" => batch(phase, list(n.get("queries")).map(query), traced)
        case "cycle" => ingest(phase, cycle(n.get("cycle")), traced, streams("main"))
      }

    // ---- set-up, timed from JVM start, into the run's fresh index dir ----
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val n0 = System.nanoTime() - (now() - jvmStart) * 1000000L
    spark = GraftSession.local(cores, Map("spark.sql.warehouse.dir" -> s"$work/warehouse"))
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
    }
    val sessionS = (System.nanoTime() - n0) / 1e9
    val (_, buildS) = timed(group("setup-build")(IndexBuilder.loadOrSnapshot(spark, lake)))
    val (idx, persistS) = timed(group("setup-persist") {
      val i = IndexBuilder.cached(spark, lake); i.count(); i
    })
    index = idx
    val (_, statsS) = timed(group("setup-stats")(JoinSearch.indexKeyStats(index).count()))
    val (_, warmS) = timed(warmup.foreach { q =>
      group("setup-warmup")(JoinSearch.searchTables(index, readQuery(q), q.cols).collect())
    })
    val setup = Map("total_s" -> (System.nanoTime() - n0) / 1e9, "session_start_s" -> sessionS,
      "snapshot_build_s" -> buildS, "persist_s" -> persistS,
      "key_stats_s" -> statsS, "warmup_s" -> warmS)
    val snapshotBytes = dirBytes(new File(IndexBuilder.snapshotPath(lake)))
    val corpusBytes = Corpus.tables.map(t => new File(s"$lake/${t.name}.parquet").length).sum

    // ---- workload-shaped priming: unmeasured ----
    val (_, primeS) = timed(list(prime).foreach(loopItem("prime", _, traced = false)))
    def storageMb(): Double = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val primedStorageMb = storageMb()

    // ---- the timed closed loop ----
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline && i < loop.size) {
      loopItem("loop", loop(i), traced = false)
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val exhausted = i >= loop.size
    val endStorageMb = storageMb()

    // ---- traced layer section, the same on every workload: prefix
    // spans and fresh searches (each traced one with an untraced twin),
    // repeats, one batch, ingest cycles on a fresh stream, then the
    // eviction probe ----
    val layerStart = System.nanoTime()
    if (trace) {
      list(layer.get("prefix")).foreach { n =>
        val q = query(n.get("query"))
        val prefix = n.get("prefix").asText
        if (prefix == "full") search("layer", q, traced = true, "full")
        else if (prefix == "untraced") search("layer", q, traced = false, "untraced")
        else {
          seq += 1
          val sid = s"prefix-$seq"
          val m = JoinSearch.mappings(JoinSearch.prepareInput(readQuery(q), q.cols), q.cols)
          val probed = JoinSearch.probe(index, m)
          val conj = JoinSearch.conjunctionAnchored(probed, m, q.cols.size,
            Some(JoinSearch.indexKeyStats(index)))
          val target = prefix match {
            case "prep" => m
            case "probe" => probed
            case "conjunction" => conj
          }
          val t0 = now()
          val (_, wall) = timed(group(sid)(
            target.write.format("noop").mode("overwrite").save()))
          val t1 = now()
          val useful: Map[String, Any] =
            if (prefix != "conjunction") Map.empty
            else Map("probed_postings" -> probed.count(),
              "matched_pairs" -> conj.select("table_id", "row_id").distinct().count())
          spans += Map[String, Any]("id" -> sid, "prefix" -> prefix,
            "shape" -> q.shape, "t0" -> t0, "t1" -> t1, "wall_s" -> wall) ++ useful
        }
      }
      list(layer.get("repeat")).foreach(n => search("layer", query(n), traced = true, "repeat"))
      batch("layer", list(layer.get("batch")).map(query), traced = true, "batch")
      list(layer.get("ingest")).foreach(c => ingest("layer", cycle(c), traced = true, streams("layer")))
      // a search registers its probe-keyed persists (qmaps:, rowkeys:,
      // anchors:) while its plan is built, so planning one family cap's
      // worth of distinct searches evicts every older entry; the cached
      // queries searched again then pay the recompute
      val before = persisted()
      val (_, planS) = timed(list(layer.get("evict")).map(query).foreach(q =>
        JoinSearch.searchTables(index, readQuery(q), q.cols)))
      evict = Map("plans" -> layer.get("evict").size, "plan_s" -> planS,
        "evicted" -> (before -- persisted()).size)
      list(layer.get("repeat")).foreach(n => search("layer", query(n), traced = true, "recompute"))
    }
    val layerS = (System.nanoTime() - layerStart) / 1e9

    val groups = if (trace) {
      PerfbenchBus.drain(spark.sparkContext)
      tracer.dump()
    } else Map.empty
    val env = Map[String, Any](
      "spark_version" -> spark.version,
      "cores" -> cores,
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "java_version" -> System.getProperty("java.version"))
    spark.stop()

    val result = Map[String, Any](
      "workload" -> workload, "env" -> env, "setup" -> setup,
      "snapshot_bytes" -> snapshotBytes, "corpus_bytes" -> corpusBytes,
      "prime_s" -> primeS, "loop_s" -> loopS, "layer_s" -> layerS, "exhausted" -> exhausted,
      "storage_mb" -> primedStorageMb, "storage_end_mb" -> endStorageMb,
      "requests" -> records.toSeq, "spans" -> spans.toSeq, "evict" -> evict, "groups" -> groups,
      "oracle" -> Map("index_ctes" -> SearchOracle.indexCtes,
        "landed_ctes" -> SearchOracle.indexCtesOver(landedRawSql),
        "queries" -> oracle.toMap))
    mapper.writeValue(out, result)
  }
}
