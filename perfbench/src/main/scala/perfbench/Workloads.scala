package perfbench

import graft.functions.{MinHashLsh, MinHashSig, VectorOps}
import graft.streaming.StreamOps.Vec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import scala.collection.mutable

/** Driver-side helpers: collected centroids and files under an index. */
object Local {
  def centroids(cents: DataFrame): Array[Array[Double]] =
    cents.collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)

  /** Parquet files per `cluster=` directory of an index. */
  def filesPerCluster(path: String): Double = {
    def walk(f: File): Int =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val clusters = Option(new File(path).listFiles()).getOrElse(Array.empty[File])
      .count(f => f.isDirectory && f.getName.startsWith("cluster="))
    walk(new File(path)).toDouble / math.max(1, clusters)
  }
}

/** Input loading and kernel probes shared by the vector workloads. */
abstract class VectorWorkload(c: Ctx) extends Workload(c) {
  protected val spark = c.spark
  import spark.implicits._
  protected val Centroids = 64
  protected val K = 10

  protected def read(name: String): DataFrame = spark.read.parquet(s"${c.data}/$name.parquet")
  /** (id, embedding: array<double>, label) — the facade's convention. */
  protected def embeddings: DataFrame = read("embeddings").select(col("vec_id").as("id"),
    col("embedding").cast("array<double>").as("embedding"), col("label"))
  /** (id, text, lang) */
  protected def documents: DataFrame =
    read("documents").select(col("doc_id").as("id"), col("text"), col("lang"))

  protected def localVectors(df: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = df.select(col("id"), col("embedding")).as[(Long, Array[Double])].collect()
      .sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Median wall (ns) of three runs of `body`. */
  private def timeNs(body: => Unit): Double =
    Layers.median((1 to 3).map { _ => val t = System.nanoTime(); body; (System.nanoTime() - t).toDouble })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Kernel costs on this workload's own inputs, each written to a
    * no-op sink from a cached input so the scan is not timed.
    */
  protected def kernelProbes(corpus: DataFrame, cents: DataFrame,
                             docs: Option[DataFrame]): Map[String, Double] = {
    val vecs = corpus.select("id", "embedding").persist()
    val n = vecs.count().toDouble
    val anchors = vecs.limit(64).select(col("id").as("aid"), col("embedding").as("av")).collect()
    val anchorDf = spark.createDataFrame(spark.sparkContext.parallelize(anchors.toSeq),
      anchors.headOption.map(_.schema).getOrElse(vecs.schema))
    val assign = timeNs(noop(VectorOps.assignToCentroids(vecs, cents, Seq("id", "embedding"))))
    val cosine = timeNs(noop(vecs.crossJoin(broadcast(anchorDf))
      .select(VectorOps.cosine(col("embedding"), col("av")))))
    vecs.unpersist()
    val minhash = docs.map { d =>
      val sh = d.select(MinHashLsh.shinglesFromTokens(split(col("text"), " ")).as("sh")).persist()
      val m = sh.count().toDouble
      val t = timeNs(noop(sh.select(Bridge.column(MinHashSig(Bridge.expression(col("sh")), 18)))))
      sh.unpersist()
      t / m
    }
    Map("functions.assign_ns_per_row" -> assign / n,
        "functions.cosine_ns_per_pair" -> cosine / (n * anchors.length)) ++
      minhash.map("functions.minhash_ns_per_doc" -> _)
  }

  /** `sources.index_open`: a standalone open of the index, as every
    * `ivfSearch` call does before planning.
    */
  protected def openProbe(path: String, i: Int): Unit =
    span("sources.index_open", i)(spark.read.parquet(path))
}

/** The S1→S4 write path, one full pass per operation: exact dedup,
  * MinHash-LSH near-duplicates, duplicate components, survivors ⋈
  * embeddings, triplet mining for a fixed anchor set, centroid
  * training and the IVF index write. Each stage writes its output to
  * parquet and the next stage reads it, as a batch pipeline does.
  * After the measured window, two [[Refresh]] steps and a compaction
  * keep a streaming-fed index fresh; they are checked and traced but
  * not timed, to keep a run within its budget.
  */
final class CorpusBuild(c: Ctx) extends VectorWorkload(c) {
  import spark.implicits._
  private val base = s"${c.work}/corpus_build"
  private def out(n: String) = s"$base/$n"
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private lazy val anchors: Array[Long] = read("anchors").as[Long].collect()
  private var lastCents: DataFrame = _
  private var embRows = 0L
  private val RefreshSteps = 2
  private val refresh = new Refresh(c, Centroids, documents.select("id", "text"),
                                    embeddings, read("arrivals"))

  def setup(): Unit = {
    docs = documents
    emb = embeddings
    embRows = emb.count()
    docs.count()
  }

  private def write(df: DataFrame, n: String): DataFrame = {
    df.write.mode("overwrite").parquet(out(n))
    spark.read.parquet(out(n))
  }

  def op(i: Int): Long = {
    val exact = span("api.dedupExact", i)(write(c.engine.dedupExact(docs), "exact"))
    val pairs = span("api.nearDuplicates", i)(
      write(c.engine.nearDuplicates(docs.join(exact, "id"), "lang", 0.8), "pairs"))
    val comps = span("api.dedupComponents", i)(
      write(c.engine.dedupComponents(exact, pairs), "components"))
    val corpus = span("api.join_survivors", i)(write(
      comps.filter(col("id") === col("component")).select("id").join(emb, "id"), "corpus"))
    span("api.mineTriplets", i)(
      write(c.engine.mineTriplets(corpus, col("id").isin(anchors.toSeq: _*)).toDF(), "triplets"))
    val cents = span("api.trainCentroids", i)(c.engine.trainCentroids(corpus, Centroids, c.seed))
    span("api.buildIvfIndex", i)(c.engine.buildIvfIndex(corpus, cents, out("index")))
    lastCents = cents
    embRows
  }

  /** Refresh steps after the measured window: untimed (for the run
    * budget), checked, and traced in a traced run.
    */
  private def refreshChecks(): Seq[String] = {
    if (c.trace) c.rec.attach()
    try span("refresh", 0) {
      refresh.start()
      (0 until RefreshSteps).flatMap { k => refresh.step(k); refresh.check(k) } ++ {
        span("api.compactIvfIndex", 0)(c.engine.compactIvfIndex(refresh.indexPath))
        refresh.checkIndex()
      }
    } finally if (c.trace) c.rec.detach()
  }

  override def close(): Unit = refresh.close()

  override def probe(i: Int): Unit = if (new File(out("index")).exists) openProbe(out("index"), i)

  private var dedupRecall = 0.0

  def checkEnd(): Seq[(String, Seq[String])] = {
    val all = documents.select("id").as[Long].collect().toSet
    val kept = spark.read.parquet(out("corpus")).select("id").as[Long].collect().toSet
    val removed = all -- kept
    val planted = read("planted").select(col("doc_id"), col("orig_id")).as[(Long, Long)].collect()
    // Each planted group (an original and its copies) keeps exactly its
    // lowest id; every other member is a duplicate the pipeline must remove.
    val groups = planted.groupBy(_._2).map { case (o, ps) => (o +: ps.map(_._1).toSeq).sorted }
    val dups = groups.flatMap(_.tail).toSet
    dedupRecall = (dups & removed).size.toDouble / dups.size
    val falseRemovals = removed -- dups
    val dedup = Seq(
      if (falseRemovals.isEmpty) None
      else Some(s"${falseRemovals.size} documents removed that are no planted duplicate, e.g. ${falseRemovals.take(3)}"),
      if (dedupRecall >= 0.95) None else Some(f"dedup recall $dedupRecall%.4f < 0.95")).flatten

    val corpus = spark.read.parquet(out("corpus"))
    val (ids, vecs) = localVectors(corpus)
    val label = corpus.select("id", "label").as[(Long, Int)].collect().toMap
    val pos = ids.indices.map(j => ids(j) -> j).toMap
    val trips = spark.read.parquet(out("triplets"))
      .as[(Long, Long, Long, Double, Double)].collect()
    val trip = mutable.ArrayBuffer[String]()
    val expected = anchors.filter(kept)
    if (trips.map(_._1).sorted.toSeq != expected.sorted.toSeq)
      trip += s"${trips.length} triplets for ${expected.length} surviving anchors"
    trips.foreach { case (a, p, n, ps, ns) =>
      if (label(p) != label(a)) trip += s"anchor $a: positive $p has another label"
      if (label(n) == label(a)) trip += s"anchor $a: negative $n has the same label"
      if (math.abs(Oracles.cosine(vecs(pos(a)), vecs(pos(p))) - ps) > 1e-9) trip += s"anchor $a: positive score $ps"
      if (math.abs(Oracles.cosine(vecs(pos(a)), vecs(pos(n))) - ns) > 1e-9) trip += s"anchor $a: negative score $ns"
    }
    // Sampled anchors: the positive must be the same-label argmax.
    trips.sortBy(_._1).take(20).foreach { case (a, p, _, ps, _) =>
      val va = vecs(pos(a))
      val best = ids.indices.filter(j => ids(j) != a && label(ids(j)) == label(a))
        .map(j => Oracles.cosine(va, vecs(j))).max
      if (ps < best - 1e-9) trip += s"anchor $a: positive $p scores $ps, best is $best"
    }

    val index = spark.read.parquet(out("index")).select(col("id"), col("cluster"), col("embedding"))
    val idx = mutable.ArrayBuffer[String]()
    val idxIds = index.select("id").as[Long].collect()
    if (idxIds.length != ids.length || idxIds.toSet != ids.toSet)
      idx += s"index holds ${idxIds.length} rows (${idxIds.toSet.size} distinct) for ${ids.length} corpus vectors"
    val cents = Local.centroids(lastCents)
    index.filter(pmod(xxhash64(col("id"), lit(c.seed)), lit(50)) === 0)
      .as[(Long, Int, Array[Double])].collect().foreach { case (id, cl, v) =>
        val (best, bestD) = Oracles.nearest(v, cents)
        if (cl != best && Oracles.sqDist(v, cents(cl)) > bestD + 1e-9)
          idx += s"vector $id in cluster $cl, nearest is $best"
      }
    Seq("dedup" -> dedup, "triplets" -> trip.toSeq, "index" -> idx.toSeq,
        "refresh" -> refreshChecks())
  }

  def recall: Double = dedupRecall

  override def probes(): Map[String, Double] =
    kernelProbes(spark.read.parquet(out("corpus")), lastCents, Some(documents)) +
      ("sources.files_per_cluster" -> Local.filesPerCluster(refresh.indexPath))
}

/** The read path: closed-loop `ivfSearch` batches against an index
  * built during set-up. Queries are perturbed corpus vectors drawn
  * Zipf-skewed over the generator's centres, so batches share probes.
  */
final class IvfQuery(c: Ctx) extends VectorWorkload(c) {
  import spark.implicits._
  private val Batch = 16
  private val NProbe = 4
  private val path = s"${c.work}/ivf_query/index"
  private var cents: DataFrame = _
  private lazy val (corpusIds, corpusVecs) = localVectors(embeddings)
  private lazy val corpusPos = corpusIds.indices.map(j => corpusIds(j) -> j).toMap
  private lazy val queries: Array[(Long, Array[Double])] = read("queries")
    .select(col("qid"), col("embedding").cast("array<double>")).as[(Long, Array[Double])]
    .collect().sortBy(_._1)
  private val results = mutable.LinkedHashMap[Long, Seq[(Int, Long, Double)]]()

  def setup(): Unit = {
    val emb = embeddings
    cents = c.engine.trainCentroids(emb, Centroids, c.seed)
    c.engine.buildIvfIndex(emb, cents, path)
  }

  private def batch(i: Int) = {
    val from = (i * Batch) % queries.length
    queries.slice(from, from + Batch)
  }

  def op(i: Int): Long = {
    val qs = batch(i).toSeq.toDF("id", "embedding")
    val hits = span("api.ivfSearch", i)(
      c.engine.ivfSearch(path, cents, qs, K, NProbe)
        .as[(Long, Int, Long, Double)].collect())
    hits.groupBy(_._1).foreach { case (q, hs) =>
      results(q) = hs.map(h => (h._2, h._3, h._4)).sortBy(_._1).toSeq }
    Batch
  }

  override def checkOp(i: Int): Seq[String] = batch(i).toSeq.flatMap { case (q, v) =>
    results.get(q) match {
      case None => Seq(s"query $q: no results")
      case Some(hs) =>
        (if (hs.map(_._1) != (1 to K)) Seq(s"query $q: ranks ${hs.map(_._1)}") else Nil) ++
          hs.flatMap { case (_, id, s) =>
            if (math.abs(Oracles.cosine(v, corpusVecs(corpusPos(id))) - s) > 1e-9)
              Some(s"query $q: neighbour $id score $s") else None }
    }
  }

  private var recallAt10 = 0.0

  def checkEnd(): Seq[(String, Seq[String])] = {
    val qv = queries.toMap
    var found, total = 0L
    results.foreach { case (q, hs) =>
      val truth = Oracles.topK(qv(q), corpusIds, corpusVecs, K).toSet
      found += hs.count(h => truth(h._2))
      total += K
    }
    recallAt10 = found.toDouble / total
    Seq("recall_at_10" ->
      (if (recallAt10 >= 0.8) Nil else Seq(f"recall@10 $recallAt10%.4f < 0.8")))
  }

  def recall: Double = recallAt10

  override def probe(i: Int): Unit = openProbe(path, i)

  override def probes(): Map[String, Double] =
    kernelProbes(embeddings, cents, None) +
      ("sources.files_per_cluster" -> Local.filesPerCluster(path))
}

/** The refresh path that follows a [[CorpusBuild]] run: writes beside
  * reads on one streaming-fed IVF layout, which [[start]] opens empty
  * with centroids trained on the standing corpus. A step dedups an
  * arriving batch against the standing corpus (`incrementalDedup`),
  * appends its new vectors through `appendToIvfIndex` and reads back
  * the clusters the batch touched; the caller then compacts the index
  * (`compactIvfIndex`).
  *
  * Searches stay in [[IvfQuery]]: `ivfSearch` reads the column `id`,
  * but the layout `appendToIvfIndex` writes is (vec_id, embedding,
  * cluster, batch), so `ivfSearch` cannot read an appended index.
  */
final class Refresh(c: Ctx, centroids: Int, standing: => DataFrame,
                    embeddings: => DataFrame, arrivalsDf: => DataFrame) {
  private val spark = c.spark
  import spark.implicits._
  private val path = s"${c.work}/refresh/index"
  private val ckpt = s"${c.work}/refresh/checkpoint"
  private var stream: MemoryStream[Vec] = _
  private var query: StreamingQuery = _
  private var cents: DataFrame = _
  private var localCents: Array[Array[Double]] = _
  /** vec_id → cluster of every vector the index must hold. */
  private val expected = mutable.HashMap[Long, Int]()
  private case class Arrival(id: Long, vec: Array[Double], text: String, dupOf: Long)
  private lazy val arrivals: Array[Array[Arrival]] = arrivalsDf
    .select(col("step"), col("vec_id"), col("embedding").cast("array<double>"), col("text"), col("dup_of"))
    .as[(Int, Long, Array[Double], String, Long)].collect()
    .groupBy(_._1).toArray.sortBy(_._1)
    .map(_._2.map { case (_, id, v, t, d) => Arrival(id, v, t, d) })
  private val verdicts = mutable.HashMap[Int, Array[(Long, Long, Int)]]()
  private val readBack = mutable.HashMap[Int, Array[(Long, Int)]]()

  def indexPath: String = path

  def start(): Unit = {
    cents = c.engine.trainCentroids(embeddings, centroids, c.seed)
    localCents = Local.centroids(cents)
    stream = MemoryStream[Vec](spark)
    query = c.engine.appendToIvfIndex(stream.toDF(), cents, path)
      .option("checkpointLocation", ckpt).start()
  }

  /** Refresh step `i`. */
  def step(i: Int): Unit = {
    val b = arrivals(i)
    val docs = b.map(a => (a.id, a.text)).toSeq.toDF("id", "text")
    val v = c.rec.span("api.incrementalDedup", i)(
      c.engine.incrementalDedup(standing, docs).as[(Long, Long, Int)].collect())
    verdicts(i) = v
    val fresh = v.filter(_._3 == 1).map(_._1).toSet
    val vecs = b.filter(a => fresh(a.id)).map(a => Vec(a.id, a.vec))
    c.rec.span("api.append_batch", i) {
      stream.addData(vecs.toSeq)
      query.processAllAvailable()
    }
    val touched = vecs.map(x => Oracles.nearest(x.embedding, localCents)._1)
    vecs.zip(touched).foreach { case (x, cl) => expected(x.vec_id) = cl }
    readBack(i) = c.rec.span("sources.readback", i)(
      spark.read.parquet(path).filter(col("cluster").isin(touched.distinct.toSeq: _*))
        .select(col("vec_id"), col("cluster")).as[(Long, Int)].collect())
  }

  /** Dedup verdicts against the planted truth and read-after-append
    * visibility for step `i`.
    */
  def check(i: Int): Seq[String] = {
    val truth = arrivals(i).map(a => a.id -> a.dupOf).toMap
    val errs = mutable.ArrayBuffer[String]()
    verdicts(i).foreach { case (id, dupOf, isNew) =>
      if (truth(id) != dupOf || (isNew == 1) != (dupOf < 0))
        errs += s"step $i: doc $id verdict ($dupOf, $isNew), planted ${truth(id)}"
    }
    if (verdicts(i).length != truth.size) errs += s"step $i: ${verdicts(i).length} verdicts for ${truth.size} docs"
    val back = readBack(i).groupBy(_._1)
    verdicts(i).filter(_._3 == 1).foreach { case (id, _, _) =>
      back.get(id) match {
        case Some(Array((_, cl))) if cl == expected(id) => ()
        case other => errs += s"step $i: appended vector $id read back as ${other.map(_.toSeq)}"
      }
    }
    errs.toSeq
  }

  /** The whole index holds exactly the appended vectors, each once, in
    * its nearest cluster (after compaction: no row changed).
    */
  def checkIndex(): Seq[String] = {
    val all = spark.read.parquet(path).select(col("vec_id"), col("cluster")).as[(Long, Int)].collect()
    if (all.length != expected.size || all.exists { case (id, cl) => !expected.get(id).contains(cl) })
      Seq(s"index holds ${all.length} rows (${all.map(_._1).toSet.size} distinct), expected ${expected.size}")
    else Nil
  }

  def close(): Unit = if (query != null) { query.stop(); query = null }
}
