package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{DfNode, EtlGroup, EtlNode}
import graft.ops.JsonFlatten
import graft.sources.{CrawlNode, LocalFsSource}

import perfbench.Main.Conf

/** Golden digests: a flat JSON object of strings, read and written here. */
object Golden {
  def read(path: String): Map[String, String] =
    if (path.isEmpty || !JFiles.exists(Paths.get(path))) Map.empty
    else {
      val s = new String(JFiles.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
    }

  def write(path: String, m: Map[String, String]): Unit =
    JFiles.write(Paths.get(path), m.toSeq.sorted.map { case (k, v) => s"  ${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
}

/** Rows of the parquet tables under `dir`. */
object Inputs {
  def rows(spark: SparkSession, dir: String, tables: Seq[String]): Long =
    tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum
}

/** `operators`: a fixed set of `SparkEntry.queries` over the generated
  * tables, issued in a seed-permuted order on one session. Each result is
  * consumed over all columns through [[Digest]] and compared with its
  * golden digest. */
class Operators(c: Conf) extends Workload {
  private val all = graft.SparkEntry.queries
  val names: IndexedSeq[String] = Operators.select(all.keys.toSeq)
  private val rank = names.zipWithIndex.toMap
  private val goldens = Golden.read(c.goldens)
  private val seen = mutable.Map[String, String]()
  private var inputRows = 0L

  def init(spark: SparkSession): Unit = {
    Operators.Tables.foreach(t => spark.read.parquet(s"${c.data}/$t.parquet").schema)
    spark.read.parquet(s"${c.data}/region.parquet").count()
    ()
  }

  private def order(pass: Int): Seq[String] = new Random(c.seed * 1000003L + pass).shuffle(names)

  private def run(spark: SparkSession, name: String): String =
    Digest.of(Trace.span("queries", name)(all(name)(spark, c.data)))

  def warmup(spark: SparkSession): Unit = {
    inputRows = Inputs.rows(spark, c.data, Operators.Tables)
    order(-1).foreach(n => Try(run(spark, n)))
  }

  def unit(spark: SparkSession, index: Int, rec: Recorder): Unit = {
    val m = rec.begin()
    order(index).foreach { name =>
      val traced = c.trace && (index + rank(name)) % 2 == 0
      val s = Trace.now()
      val result = rec.window(traced, name)(Try(run(spark, name)))
      val e = Trace.now()
      val ok = result match {
        case Success(d) =>
          val prev = seen.getOrElseUpdate(name, d)
          val expected = if (c.record) prev else goldens.getOrElse(name, "<no golden>")
          if (d != expected) rec.failures += s"$name: digest $d, expected $expected"
          d == expected
        case Failure(err) => rec.fail(name, err); false
      }
      rec.step(name, index, s, e, ok, traced)
    }
    rec.unit(m, inputRows, traced = false)
  }

  override def finish(spark: SparkSession, rec: Recorder): Unit =
    if (c.record) Golden.write(c.goldens, seen.toMap)
}

object Operators {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** A query family: the name prefixes of its queries and the queries that
    * stand for it in the measured set. */
  final case class Family(name: String, prefixes: Seq[String], picks: Seq[String])

  /** Every query of the suite belongs to the first family with a matching
    * prefix. The `dag` family holds the three queries that run an EtlGroup
    * over a Catalog, so the set reaches those layers too; every other
    * family has one query in the set. */
  val Families: Seq[Family] = Seq(
    Family("dag", Seq("q_metagraph_", "q_asof_dag", "q_dedup_rewrite"),
      Seq("q_metagraph_whole", "q_asof_dag", "q_dedup_rewrite")),
    Family("aggregate", Seq("q_agg_", "q_group_", "q_topk_", "q_distinct_", "q_top1_", "q_license_",
      "q_pivot"), Seq("q_agg_cube")),
    Family("join", Seq("q_join_", "q_semi_", "q_anti_", "q_intersect", "q_skew_"), Seq("q_join_nway")),
    Family("range", Seq("q_range_"), Seq("q_range_join")),
    Family("asof", Seq("q_asof_"), Seq("q_asof_join")),
    Family("set", Seq("q_union"), Seq("q_union_all")),
    Family("window", Seq("q_window_", "q_sessionize"), Seq("q_window_rownum")),
    Family("stream", Seq("q_stream_"), Seq("q_stream_sessions")),
    Family("scan", Seq("q_filters", "q_limit", "q_concat_"), Seq("q_filters")),
    Family("er", Seq("q_er_"), Seq("q_er_features")),
    Family("graph", Seq("q_graph_"), Seq("q_graph_grouping")),
    Family("dedup", Seq("q_dedup_"), Seq("q_dedup_semantic")),
    Family("ann", Seq("q_ann_"), Seq("q_ann_ivfpq")),
    Family("text", Seq("q_text_", "q_decontam", "q_clean_", "q_sentence_"), Seq("q_text_quality")),
    Family("corpus", Seq("q_sample_", "q_pack_", "q_vocab_", "q_mix_", "q_chunk_", "q_heavy_"),
      Seq("q_mix_budget")),
    Family("multimodal", Seq("q_multimodal_"), Seq("q_multimodal_wav")),
    Family("json", Seq("q_json_"), Seq("q_json_array")),
    Family("hash", Seq("q_partition_", "q_hash_", "q_zorder_"), Seq("q_hash_ids")),
    Family("crawl", Seq("q_crawl_", "q_cache_"), Seq("q_crawl_incremental")))

  def familyOf(query: String): Option[Family] = Families.find(_.prefixes.exists(query.startsWith))

  /** The measured set: every family's picks. Fails unless every query of
    * the suite falls in a family and every pick is a query of its own
    * family, so a query added under a new prefix is not silently left out. */
  def select(all: Seq[String]): IndexedSeq[String] = {
    val orphans = all.filter(familyOf(_).isEmpty)
    require(orphans.isEmpty, s"queries in no family: ${orphans.sorted.mkString(", ")}")
    val picks = Families.flatMap(f => f.picks.map(f -> _))
    val wrong = picks.collect { case (f, q) if !all.contains(q) || !familyOf(q).contains(f) => q }
    require(wrong.isEmpty, s"picks that are not queries of their family: ${wrong.mkString(", ")}")
    picks.map(_._2).sorted.toIndexedSeq
  }
}

/** Shared DAG plumbing: wrap nodes, run the group under spans, record the
  * node steps and (when traced) the DAG shape for the critical path. */
object Dag {
  def wrap(group: String, stages: Seq[(String, Seq[EtlNode])], groupSpan: AtomicLong,
           rec: Recorder, unit: Int, traced: Boolean): Seq[EtlNode] =
    stages.flatMap { case (family, nodes) =>
      nodes.map(n => new TimedNode(n, family, group, groupSpan, rec, unit, traced))
    }

  def execute(group: String, nodes: Seq[EtlNode], cat: graft.engine.Catalog, cores: Int,
              groupSpan: AtomicLong, rec: Recorder, traced: Boolean): Unit = {
    val g = new EtlGroup(group, nodes)
    Trace.span("etlgroup", group) {
      groupSpan.set(Trace.currentSpan)
      g.execute(cat, maxActiveRun = cores)
    }
    if (traced) {
      val producer = nodes.flatMap(n => n.outputIds.map(_ -> n.name)).toMap
      rec.dags += Map("group_span" -> groupSpan.get(),
        "deps" -> nodes.map(n => n.name -> n.inputIds.flatMap(producer.get).distinct).toMap)
    }
  }
}

/** `flagship`: `graft.Flagship.stages` as one concurrent EtlGroup over a
  * fresh Catalog per run, on the seeded replica corpus `run.py` writes. A
  * unit ends when the group has written the result graph; the checks run
  * after it, untimed. */
class Flagship(c: Conf) extends Workload {
  private val in = s"${c.work}/flagship_in"
  private val goldens = Golden.read(c.goldens)
  private var inputRows = 0L
  private var inputBytes = 0L
  private val recorded = mutable.Map[String, String]()
  private var last: Option[(Int, TimedCatalog)] = None

  def init(spark: SparkSession): Unit = {
    val cat = new TimedCatalog(spark, s"${c.work}/flagship_init")
    graft.Flagship.metagraph.inputIds.foreach { id =>
      cat.link(id, s"$in/$id.parquet")
      cat.read(id).schema
    }
    spark.read.parquet(s"$in/customer.parquet").count()
    ()
  }

  private def dir(unit: Int) = s"${c.work}/flagship_cat_$unit"

  private def pipeline(input: String, cat: TimedCatalog, unit: Int, rec: Recorder, traced: Boolean): Unit = {
    graft.Flagship.metagraph.inputIds.foreach(id => cat.link(id, s"$input/$id.parquet"))
    val groupSpan = new AtomicLong(-1L)
    val nodes = Dag.wrap("flagship", graft.Flagship.stages, groupSpan, rec, unit, traced)
    Dag.execute("flagship", nodes, cat, c.cores, groupSpan, rec, traced)
  }

  /** Warm-up on the small tables: every code path, a fraction of the work. */
  def warmup(spark: SparkSession): Unit = {
    inputRows = Inputs.rows(spark, in, graft.Flagship.metagraph.inputIds)
    inputBytes = graft.Flagship.metagraph.inputIds.map(id => Files.treeBytes(s"$in/$id.parquet")).sum
    pipeline(c.data, new TimedCatalog(spark, dir(-1)), -1, new Recorder, traced = false)
    Files.deleteTree(dir(-1))
  }

  private def golden(rec: Recorder, what: String, k: String, v: String): Unit = {
    if (c.record) recorded(k) = recorded.getOrElseUpdate(k, v)
    val expected = if (c.record) recorded(k) else goldens.getOrElse(k, "<no golden>")
    rec.check(s"$what: $k = $v, expected $expected", v == expected)
  }

  def unit(spark: SparkSession, index: Int, rec: Recorder): Unit = {
    last.foreach { case (i, _) => Files.deleteTree(dir(i)) }
    last = None
    val traced = c.trace && index % 2 == 0
    val cat = new TimedCatalog(spark, dir(index))
    val m = rec.begin()
    val result = rec.window(traced, s"flagship run $index")(Try(pipeline(in, cat, index, rec, traced)))
    rec.unit(m, inputRows, traced)
    result match {
      case Failure(e) => rec.fail(s"flagship run $index", e); rec.check("flagship run completes", false)
      case Success(_) =>
        val graph = cat.read("flagship_graph")
        val mapping = cat.read("er_mapping")
        val messyLeft = graph.join(mapping, graph("to_id") === mapping("messy_id"), "left_semi").count()
        rec.check(s"run $index: $messyLeft link endpoints keep messy ids", messyLeft == 0)
        Flagship.Counted.foreach(id => golden(rec, s"run $index", s"rows.$id", cat.read(id).count().toString))
        rec.count("stored_bytes", Files.treeBytes(dir(index)).toDouble)
        rec.count("input_bytes", inputBytes.toDouble)
        last = Some((index, cat))
    }
  }

  /** The result graph of the last run, salt stripped, against its golden. */
  override def finish(spark: SparkSession, rec: Recorder): Unit = {
    last.foreach { case (i, cat) =>
      golden(rec, s"run $i", "graph_digest", Digest.of(Flagship.unsalted(cat.read("flagship_graph"))))
      Files.deleteTree(dir(i))
    }
    if (c.record) Golden.write(c.goldens, recorded.toMap)
  }
}

object Flagship {
  /** Outputs whose row counts are checked against the goldens. */
  val Counted = Seq("flagship_graph", "er_mapping", "gnode_product", "gnode_customer",
    "glink_ordered_material", "glink_has_license")

  /** (customer, product, rows) with the replica salt removed from the
    * names; ids (hashes of salted names) dropped. The cluster structure ER
    * finds does not depend on the salt, so this view of the result is the
    * same for every seed. */
  def unsalted(graph: DataFrame): DataFrame =
    graph.groupBy("customer", "product").count().select(
      regexp_replace(col("customer"), "#[a-z]{6}$", "").as("customer"),
      regexp_replace(col("product"), "_[a-z]{6}", "").as("product"), col("count"))
}

/** `refresh`: the reference's crawl → tabularize layer. A seeded generator
  * keeps PyPI-shaped `latest` JSON files in a LocalFsSource directory. The
  * warm-up crawls them and runs refresh rounds, then saves the catalog and
  * the source as the starting state. Every unit starts from that state: the
  * generator changes, deletes and adds a fixed number of keys, then one
  * EtlGroup runs the CrawlNode and three tabularize DfNodes. So every unit
  * probes the same number of keys and copies a snapshot of the same size,
  * however many units a run reaches. */
class Refresh(c: Conf) extends Workload {
  private val src = s"${c.work}/refresh_src"
  private val catDir = s"${c.work}/refresh_cat"
  private val savedDir = s"${c.work}/refresh_saved"
  private val model = new PypiModel(c.seed, src)
  private var start: PypiModel.State = _
  private var cat: TimedCatalog = _
  private var source: TimedSource = _

  def init(spark: SparkSession): Unit = {
    cat = new TimedCatalog(spark, catDir)
    val sc = spark.sparkContext
    source = TimedSource(LocalFsSource(src), sc.longAccumulator("fetch_calls"),
      sc.longAccumulator("fetch_ns"), sc.longAccumulator("fetch_changed"))
    JFiles.createDirectories(Paths.get(src))
    source.list()
    spark.read.parquet(s"${c.data}/region.parquet").count()
    ()
  }

  private def round(unit: Int, rec: Recorder, traced: Boolean): Unit = {
    val groupSpan = new AtomicLong(-1L)
    val nodes = Dag.wrap("refresh", Refresh.stages(source), groupSpan, rec, unit, traced)
    Dag.execute("refresh", nodes, cat, c.cores, groupSpan, rec, traced)
  }

  def warmup(spark: SparkSession): Unit = {
    model.initial(Refresh.Keys)
    round(-1, new Recorder, traced = false)
    (1 to Refresh.WarmupRounds).foreach { _ =>
      model.mutate()
      round(-1, new Recorder, traced = false)
    }
    Files.copyTree(catDir, savedDir)
    start = model.state
  }

  def unit(spark: SparkSession, index: Int, rec: Recorder): Unit = {
    Files.deleteTree(catDir)
    Files.copyTree(savedDir, catDir)
    model.restore(start)
    val changedBytes = model.mutate()
    val traced = c.trace && index % 2 == 0
    val (calls, ns, changed) = (source.calls.value, source.nanos.value, source.changed.value)
    val m = rec.begin()
    val result = rec.window(traced, s"refresh round $index")(Try(round(index, rec, traced)))
    rec.unit(m, model.probed, traced)
    result.failed.foreach { e => rec.fail(s"refresh round $index", e); rec.check("round completes", false) }
    if (traced) {
      rec.count("fetch_calls", (source.calls.value - calls).toDouble)
      rec.count("fetch_s", (source.nanos.value - ns) / 1e9)
      rec.count("fetch_changed", (source.changed.value - changed).toDouble)
      rec.count("changed_bytes", changedBytes.toDouble)
    }
  }

  /** The last unit's snapshot and tabularized tables against the
    * generator's records. */
  override def finish(spark: SparkSession, rec: Recorder): Unit = {
    def rows(df: DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("\u001f")).sorted
    def compare(what: String, got: Seq[String], expected: Seq[String]): Unit = {
      val diff = got.diff(expected).size + expected.diff(got).size
      rec.check(s"$what: ${got.size} rows, ${expected.size} expected, $diff differ", diff == 0)
    }
    val snap = cat.read("latest").select(col("name"), md5(col("latest")), col("etag"))
    compare("latest", rows(snap), model.expectedSnapshot)
    compare("latest_package", rows(cat.read("latest_package")), model.expectedPackages)
    compare("latest_requirement", rows(cat.read("latest_requirement")), model.expectedRequirements)
    compare("latest_url", rows(cat.read("latest_url")), model.expectedUrls)
    rec.count("stored_bytes", Files.treeBytes(catDir).toDouble)
    rec.count("input_bytes", Files.treeBytes(src).toDouble)
  }
}

object Refresh {
  val Keys = 2000
  val WarmupRounds = 5

  val PackageFields: Seq[String] = Seq("name", "package_url", "project_url", "requires_python",
    "version", "keywords", "author", "author_email", "maintainer", "maintainer_email", "license",
    "docs_url", "home_page")

  private val infoSchema = StructType(PackageFields.map(StructField(_, StringType)) :+
    StructField("num_releases", LongType))

  private def info(latest: DataFrame, path: String, as: String): DataFrame =
    latest.select(col("name").as("pkg_name"), get_json_object(col("latest"), path).as(as))

  /** The crawl node and the tabularize nodes (tabularize.py's three tables). */
  def stages(source: TimedSource): Seq[(String, Seq[EtlNode])] = Seq(
    "crawl" -> Seq(new CrawlNode("crawl", source, "latest")),
    "tabularize" -> Seq(
      new DfNode("latest_package", Seq("latest"), Seq("latest_package"), {
        case Seq(latest) =>
          Seq(JsonFlatten.flattenStruct(info(latest, "$.info", "info"), "info", infoSchema,
            PackageFields :+ "num_releases").drop("info"))
      }),
      new DfNode("latest_requirement", Seq("latest"), Seq("latest_requirement"), {
        case Seq(latest) =>
          Seq(JsonFlatten.explodeJsonArray(info(latest, "$.info.requires_dist", "rd"), "rd", "requirement")
            .select("pkg_name", "requirement"))
      }),
      new DfNode("latest_url", Seq("latest"), Seq("latest_url"), {
        case Seq(latest) =>
          Seq(JsonFlatten.explodeJsonMap(info(latest, "$.info.project_urls", "pu"), "pu", "url_type", "url")
            .select("pkg_name", "url_type", "url"))
      })))
}

/** Seeded generator of PyPI `latest` records kept as files in `dir`, and
  * the model of what an incremental crawl must have seen: every key ever
  * listed keeps the last content fetched for it. */
final class PypiModel(seed: Long, dir: String) {
  import PypiModel.Rec
  private val rnd = new Random(seed)
  private var nextKey = 0
  private val live = mutable.LinkedHashMap[String, String]() // key -> content on disk
  private val snapshot = mutable.LinkedHashMap[String, (String, Rec)]() // key -> last fetched
  private val onDisk = mutable.Map[String, Rec]()

  private def word(): String = Seq("data", "fast", "graph", "py", "spark", "json", "web", "cli",
    "net", "ml")(rnd.nextInt(10))

  private def record(key: String, version: Int): Rec = {
    val author = s"${word()} ${word()}"
    val maint = if (rnd.nextInt(4) == 0) None else Some(s"${word()} team")
    val fields = Map(
      "name" -> Some(key), "package_url" -> Some(s"https://pypi.org/project/$key/"),
      "project_url" -> Some(s"https://pypi.org/project/$key/"),
      "requires_python" -> (if (rnd.nextInt(5) == 0) None else Some(s">=3.${rnd.nextInt(8)}")),
      "version" -> Some(s"$version.${rnd.nextInt(20)}.${rnd.nextInt(10)}"),
      "keywords" -> Some(Seq.fill(1 + rnd.nextInt(3))(word()).mkString(",")),
      "author" -> Some(author), "author_email" -> Some(s"${author.replace(' ', '.')}@example.org"),
      "maintainer" -> maint, "maintainer_email" -> maint.map(m => s"${m.replace(' ', '.')}@example.org"),
      "license" -> Some(Seq("MIT", "BSD", "Apache-2.0", "GPL-3.0", "UNKNOWN")(rnd.nextInt(5))),
      "docs_url" -> (if (rnd.nextInt(10) == 0) Some(s"https://$key.readthedocs.io") else None),
      "home_page" -> Some(s"https://github.com/${word()}/$key"))
    val requires =
      if (rnd.nextInt(5) == 0) None
      else Some(Seq.fill(rnd.nextInt(6))(s"${word()}${word()} (>=${rnd.nextInt(5)}.${rnd.nextInt(10)})").distinct)
    val urls =
      if (rnd.nextInt(10) == 0) None
      else Some(Seq("Homepage", "Source", "Tracker", "Documentation").filter(_ => rnd.nextBoolean())
        .map(t => t -> (if (rnd.nextInt(8) == 0) None else Some(s"https://example.org/$key/${t.toLowerCase}"))))
    Rec(fields.collect { case (k, Some(v)) => k -> v }, 1L + version * 3 + rnd.nextInt(3), requires, urls)
  }

  private def json(r: Rec): String = {
    def s(v: Option[String]) = v.map(Json.quote).getOrElse("null")
    val fields = Refresh.PackageFields.map(f => s"${Json.quote(f)}: ${s(r.fields.get(f))}")
    val req = r.requires.map(_.map(Json.quote).mkString("[", ", ", "]")).getOrElse("null")
    val urls = r.urls.map(_.map { case (k, v) => s"${Json.quote(k)}: ${s(v)}" }.mkString("{", ", ", "}"))
      .getOrElse("null")
    s"""{"info": {${fields.mkString(", ")}, "num_releases": ${r.releases}, "requires_dist": $req, "project_urls": $urls}}"""
  }

  private def put(key: String, r: Rec): Long = {
    val content = json(r)
    JFiles.write(Paths.get(dir, key + ".json"), content.getBytes(StandardCharsets.UTF_8))
    live(key) = content
    onDisk(key) = r
    content.length.toLong
  }

  private def newKey(): String = { nextKey += 1; f"pkg$nextKey%06d" }

  /** Write `n` fresh keys. */
  def initial(n: Int): Unit = {
    (1 to n).foreach { _ => val k = newKey(); put(k, record(k, 1)) }
    sync()
  }

  /** The last crawl fetched every key on disk: its snapshot holds them. */
  private def sync(): Unit = {
    live.foreach { case (k, content) => snapshot(k) = (content, onDisk(k)) }
  }

  /** One round of upstream change: 10% of the live keys, drawn at random,
    * get a new release, 2% disappear and 3% new keys appear. The crawl that
    * follows fetches them; returns the bytes of changed and new content. */
  def mutate(): Long = {
    val keys = rnd.shuffle(live.keys.toIndexedSeq)
    val (changed, vanished) = (keys.size / 10, keys.size / 50)
    var bytes = 0L
    keys.take(changed).foreach(k => bytes += put(k, record(k, snapshot(k)._2.releases.toInt + 1)))
    keys.slice(changed, changed + vanished).foreach { k =>
      JFiles.delete(Paths.get(dir, k + ".json")); live.remove(k); onDisk.remove(k)
    }
    (1 to keys.size * 3 / 100).foreach { _ => val k = newKey(); bytes += put(k, record(k, 1)) }
    sync()
    bytes
  }

  /** The generator's state, to start later rounds from. */
  def state: PypiModel.State = PypiModel.State(nextKey, live.toSeq, snapshot.toSeq, onDisk.toMap)

  /** Back to `s`: rewrites the files that differ from it and deletes the
    * ones it does not hold. */
  def restore(s: PypiModel.State): Unit = {
    val keep = s.live.toMap
    live.keys.filterNot(keep.contains).foreach(k => JFiles.delete(Paths.get(dir, k + ".json")))
    s.live.foreach { case (k, content) =>
      if (!live.get(k).contains(content))
        JFiles.write(Paths.get(dir, k + ".json"), content.getBytes(StandardCharsets.UTF_8))
    }
    nextKey = s.nextKey
    live.clear(); live ++= s.live
    snapshot.clear(); snapshot ++= s.snapshot
    onDisk.clear(); onDisk ++= s.onDisk
  }

  /** Keys the crawl probes: every key in its snapshot plus the listed ones. */
  def probed: Long = snapshot.size.toLong

  private def row(vals: Seq[Any]): String =
    vals.map(v => if (v == null) "\\N" else v.toString).mkString("\u001f")

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def expectedSnapshot: Seq[String] =
    snapshot.toSeq.map { case (k, (content, _)) => row(Seq(k, md5(content), md5(content))) }.sorted

  def expectedPackages: Seq[String] =
    snapshot.toSeq.map { case (k, (_, r)) =>
      row(Seq(k) ++ Refresh.PackageFields.map(f => r.fields.getOrElse(f, null)) :+ r.releases)
    }.sorted

  def expectedRequirements: Seq[String] =
    snapshot.toSeq.flatMap { case (k, (_, r)) => r.requires.getOrElse(Nil).map(q => row(Seq(k, q))) }.sorted

  def expectedUrls: Seq[String] =
    snapshot.toSeq.flatMap { case (k, (_, r)) =>
      r.urls.getOrElse(Nil).collect { case (t, Some(u)) => row(Seq(k, t, u)) }
    }.sorted
}

object PypiModel {
  final case class State(nextKey: Int, live: Seq[(String, String)], snapshot: Seq[(String, (String, Rec))],
                         onDisk: Map[String, Rec])
  final case class Rec(fields: Map[String, String], releases: Long, requires: Option[Seq[String]],
                       urls: Option[Seq[(String, Option[String])]])
}

/** ns per call of the engine's codegen'd kernels on fixed inputs drawn from
  * the generated tables, with no Spark scheduling in the number. */
object ExprBench {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  private def nsPerCall(f: Int => Any, n: Int): Double = {
    var sink = 0L
    (0 until n).foreach(i => sink += f(i).hashCode) // warm
    val reps = 5
    val samples = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i).hashCode; i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }.sorted
    if (sink == 42) println("")
    samples(reps / 2)
  }

  def run(c: Conf): Map[String, Double] = {
    val spark = SparkSession.active
    val names = spark.read.parquet(s"${c.data}/part.parquet").select("p_name").distinct()
      .orderBy("p_name").collect().map(_.getString(0)).toIndexedSeq
    val pairs = for (a <- names; b <- names) yield (a, b)
    val vecs = spark.read.parquet(s"${c.data}/embeddings.parquet").orderBy("vec_id").limit(64)
      .collect().map(r => UnsafeArrayData.fromPrimitiveArray(
        r.getSeq[Float](1).map(x => math.round(x * 127.0).toLong).toArray))
    val sets = spark.read.parquet(s"${c.data}/documents.parquet").orderBy("doc_id").limit(64)
      .collect().map(r => UnsafeArrayData.fromPrimitiveArray(
        r.getString(1).split(" ").map(w => (w.hashCode & 0xffff).toLong).distinct.sorted))
    val nv = vecs.length
    Map(
      "affine_gap_ns" -> nsPerCall(i => { val (a, b) = pairs(i % pairs.size)
        graft.expr.AffineGapSimilarity.similarity(a, b) }, 20000),
      "long_dot_ns" -> nsPerCall(i => graft.expr.LongDotProduct.dot(vecs(i % nv), vecs((i / nv) % nv)), 200000),
      "sorted_intersect_ns" -> nsPerCall(i =>
        graft.expr.SortedIntersectCount.count(sets(i % nv), sets((i / nv) % nv)), 200000))
  }
}
