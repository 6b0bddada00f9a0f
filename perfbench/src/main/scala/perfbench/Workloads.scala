package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** What the checks of one iteration found. Filled outside the timed window. */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[Failure]
  val quality = mutable.LinkedHashMap.empty[String, Double]
  /** Outputs a traced iteration must reproduce exactly. */
  val summary = mutable.LinkedHashMap.empty[String, String]

  var attempted = 0

  def check(name: String)(cond: => Boolean, detail: => String): Unit = {
    attempted += 1
    try { if (!cond) failures += Failure(name, "CheckFailed", detail) }
    catch { case e: Exception => failures += Failure.of(name, e) }
  }
}

final case class Failure(op: String, cls: String, msg: String)
object Failure {
  def of(op: String, e: Throwable): Failure =
    Failure(op, e.getClass.getName,
      Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse(""))
}

/** One workload: `setup` builds and materializes the inputs (untimed),
  * `job` is the timed closed-loop sequence of layer calls and returns the
  * checks to run on its outputs once the clock has stopped. */
abstract class Workload {
  type In
  def setup(s: SparkSession): In
  def job(s: SparkSession, in: In, tr: Tracer): Checks => Unit
}

object Workload {
  def mat(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** The planted-block store of E2eScaleSpec (5 blocks, each expressing a
    * 40-feature band, plus uniform background draws); `salt` enters every
    * hash, so each seed gives a different store of the same shape. */
  val nBlocks = 5
  def plantedStore(s: SparkSession, n: Long, salt: String): DataStore = {
    val bandWidth = 40
    val cellsR = s.range(n).select(col("id").as("cell_id"))
    val band = cellsR
      .crossJoin(s.range(30).select(col("id").as("j")))
      .select(col("cell_id"),
        ((col("cell_id") % nBlocks) * bandWidth +
          pmod(xxhash64(lit(s"f:$salt"), col("cell_id"), col("j")), lit(bandWidth)))
          .as("feat_id"))
    val bg = cellsR
      .crossJoin(s.range(20).select(col("id").as("j")))
      .select(col("cell_id"),
        pmod(xxhash64(lit(s"g:$salt"), col("cell_id"), col("j")),
          lit(nBlocks.toLong * bandWidth)).as("feat_id"))
    val coo = band.unionByName(bg)
      .withColumn("value", lit(1.0) +
        pmod(xxhash64(lit(s"v:$salt"), col("cell_id"), col("feat_id")), lit(5)).cast("double"))
      .groupBy("cell_id", "feat_id").agg(sum("value").as("value"))
    val feats = s.range(nBlocks.toLong * bandWidth)
      .select(col("id").as("feat_id"), lit(true).as("I"), concat(lit("f"), col("id")).as("name"))
    DataStore(mat(cellsR.select(col("cell_id"), lit(true).as("I"))), mat(feats), mat(coo))
  }

  /** NMI (arithmetic-mean normalization, as `Pseudobulk.ariNmi`) of a
    * `(cell_id, cluster)` labelling against the planted blocks. */
  def nmi(labels: DataFrame): Double = {
    val pairs = labels.filter(col("cluster").isNotNull).select("cell_id", "cluster").collect()
      .map(r => (r.get(1).toString, r.getLong(0) % nBlocks))
    val n = pairs.length.toDouble
    def counts[K](key: ((String, Long)) => K): Map[K, Double] =
      pairs.groupBy(key).map { case (k, v) => k -> v.length.toDouble }
    val (a, b, ab) = (counts(_._1), counts(_._2), counts(identity))
    def h(m: Map[_, Double]) = -m.values.map(c => c / n * math.log(c / n)).sum
    val mi = ab.map { case ((x, y), c) => c / n * math.log(c * n / (a(x) * b(y))) }.sum
    val mean = (h(a) + h(b)) / 2
    if (mean == 0) 1.0 else mi / mean
  }

  /** QC → HVG. */
  def qcHvg(st: DataStore, tr: Tracer): DataStore = {
    val qc = tr.span("stats.qc") {
      val d = st.withQcStats.filterCells(Seq("n_counts"), Seq(1.0), Seq(1e9))
      d.copy(cells = mat(d.cells), feats = mat(d.feats))
    }
    tr.span("stats.hvg") {
      val d = qc.markHvgs(topN = 150, minCells = 20)
      d.copy(feats = mat(d.feats))
    }
  }

  /** makeGraph's first layers, one call per span: the log-normalized HVG
    * signal and its PCA latent. */
  def pcaLatent(st: DataStore, dims: Int, tr: Tracer): DataFrame = {
    val sel = st.feats.filter(col("hvg")).select("feat_id")
    val active = st.coo.join(st.cells.filter(col("I")).select("cell_id"), Seq("cell_id"))
    val normed = graft.norm.Normalize.libSizeLog(active)
      .join(broadcast(sel), Seq("feat_id"))
      .select("cell_id", "feat_id", "normed")
    tr.span("reduce.pca") {
      mat(Reduce.pca(Reduce.assembleVectors(normed, Reduce.featureIndex(sel), "normed"), dims))
    }
  }

  /** A k-bounded `(src, dst)` graph that has every one of `n` cells as a source. */
  def checkGraph(c: Checks, name: String, edges: DataFrame, n: Long, k: Int): Unit = {
    val outDegree = edges.select("src").collect().groupBy(_.getLong(0)).map(_._2.length)
    val nEdges = outDegree.sum
    c.summary(s"$name.edges") = nEdges.toString
    c.check(s"$name.k_bounded")(nEdges > 0 && outDegree.max <= k,
      s"$nEdges edges for $n cells, max out-degree ${outDegree.max} at k=$k")
    c.check(s"$name.covers_cells")(outDegree.size == n, s"${outDegree.size} of $n cells in the graph")
  }

  /** `column` is defined (not null, not NaN) on all `n` rows of `df`. */
  def checkDefined(c: Checks, name: String, df: DataFrame, column: String, n: Long): Unit = {
    val ok = df.select(column).collect().count(r => !r.isNullAt(0) && !r.getDouble(0).isNaN)
    c.check(name)(ok == n, s"$column defined on $ok of $n cells")
  }

  def checkFloor(c: Checks, name: String, value: Double, floors: Map[String, Double]): Unit = {
    c.quality(name) = value
    val floor = floors.getOrElse(s"floor.$name", Double.NaN)
    c.check(s"quality.$name")(value >= floor, f"$name $value%.4f below floor $floor%.4f")
  }
}

import Workload._

/** `cells`: the scarf pipeline a user runs on a planted-block store, one
  * layer call per span. The reference is the first `n` cells:
  *  - QC → HVG → PCA → LSH ANN graph (what `makeGraph` picks above its
  *    10k-cell gate; memoized in FrameMemo) → smoothing;
  *  - the driver-side Louvain, then the iterative DataFrame loops:
  *    distributed multi-level Louvain, its connectivity refinement,
  *    personalized PageRank pseudotime; the marker search;
  *  - the exact self-KNN (what `makeGraph` picks below the gate), the
  *    graph written through `CacheStore`, driver and distributed UMAP,
  *    MAGIC diffusion (`getImputed`);
  *  - two target batches (the next `2·nTarget` cells) mapped through
  *    `runMapping` on one fresh `CacheStore` root: the first writes the
  *    reference latent, the repeat reads it back and reuses the session's
  *    reference vectors; then label transfer to the second target. */
final class Cells(n: Long, nTarget: Long, salt: String, work: String,
                  floors: Map[String, Double]) extends Workload {
  type In = DataStore
  private val (dims, k, saveK) = (11, 11, 3)
  def setup(s: SparkSession): DataStore = plantedStore(s, n + 2 * nTarget, salt)

  /** The cells with ids in `[from, until)`, as a store of their own. */
  private def slice(st: DataStore, from: Long, until: Long): DataStore = {
    val in = col("cell_id") >= from && col("cell_id") < until
    st.copy(cells = st.cells.filter(in), coo = st.coo.filter(in))
  }

  def job(s: SparkSession, in: DataStore, tr: Tracer): Checks => Unit = {
    val st = qcHvg(slice(in, 0, n), tr)
    val latent = pcaLatent(st, dims, tr)
    val knn = tr.span("knn.self_ann")(mat(Knn.bucketedSelfKnn(latent, k)))
    val edges = tr.span("knn.smooth")(mat(Knn.smoothEdges(knn)))

    val labels = tr.span("cluster.louvain_driver")(mat(Cluster.louvain(edges)))
    // 3 rounds × 3 levels instead of the default 8 × 5, so a run fits its
    // time budget: NMI 0.91-1.0 on the plant at half the default's cost
    val lv = tr.span("graph.louvain") {
      mat(graft.graph.DistributedLouvain.clusterMultiLevel(edges, rounds = 3, maxLevels = 3))
    }
    val refined = tr.span("graph.refine")(mat(graft.graph.DistributedLouvain.refine(edges, lv)))
    val sources = s.range(0, 50, nBlocks).select(col("id").as("cell_id"))
    val pt = tr.span("graph.ppr")(mat(Pseudotime.score(edges, sources, iters = 5)))
    val clustered = st.copy(cells = st.cells.join(labels, Seq("cell_id"), "left"))
    val markers = tr.span("stats.markers")(mat(clustered.runMarkerSearch))

    val exact = tr.span("knn.self_exact")(mat(Knn.exactSelfKnn(latent, k)))
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(work), "cachestore").toString
    val stored = tr.span("core.cachestore") {
      new graft.core.CacheStore(root).getOrCompute(s, "edges", Map("k" -> k.toString), knn)(edges)
    }
    val init = mat(UmapLayout.initFromLatent(latent))
    val umap = tr.span("umap.driver")(mat(UmapLayout.layout(edges, init)))
    // 5 epochs instead of the default 30: each epoch is the same few jobs
    val umapDist = tr.span("umap.distributed") {
      mat(UmapLayout.distributedLayout(edges, init, nEpochs = 5))
    }
    val graphed = st.copy(caches = Map("latent" -> latent, "knn" -> knn, "edges" -> edges))
    // MAGIC-imputed expression of block 0's feature band
    val band = s.range(0, 40).select(col("id").as("feat_id"))
    val imputed = tr.span("graph.diffuse")(mat(graphed.getImputed(band, t = 2)))

    def mapTo(from: DataStore, target: DataStore, name: String): DataStore = {
      val m = from.runMapping(target, name, saveK = saveK, cacheRoot = Some(root))
      m.caches(s"projection:$name").count()
      m
    }
    val m1 = tr.span("mapping.run_first")(mapTo(graphed, slice(in, n, n + nTarget), "t1"))
    val m2 = tr.span("mapping.run_repeat")(mapTo(m1, slice(in, n + nTarget, n + 2 * nTarget), "t2"))
    // the reference's own first 100 cells against the reference, self
    // excluded: the exact broadcast top-k a mapping runs
    val queries = latent.filter(col("cell_id") < 100)
    val selfHits = tr.span("mapping.project") {
      mat(Mapping.project(queries, latent, saveK, excludeSelf = true))
    }
    val refLabels = st.cells.select(col("cell_id").as("ref_id"),
      (col("cell_id") % nBlocks).cast("string").as("label"))
    val classes = tr.span("graph.label_transfer")(mat(m2.getTargetClasses("t2", refLabels)))

    // the outputs are n·k-bounded, so the checks collect them
    c => {
      checkGraph(c, "graph", edges, n, k)
      checkGraph(c, "graph.exact", exact, n, k)
      c.check("core.cachestore.roundtrip")(stored.count() == edges.count(),
        s"${stored.count()} edges read back, ${edges.count()} written")
      checkDefined(c, "graph.ppr.defined", pt, "pseudotime", n)
      checkDefined(c, "umap.driver.defined", umap, "umap1", n)
      checkDefined(c, "umap.distributed.defined", umapDist, "umap1", n)
      checkDefined(c, "graph.diffuse.defined", imputed, "x", n)
      c.check("stats.markers.nonempty")(!markers.isEmpty, "no markers")
      checkGraph(c, "mapping.project", selfHits.select(col("target_id").as("src")), 100, saveK)
      Seq("t1", "t2").foreach { name =>
        val hits = m2.caches(s"projection:$name").select(col("target_id").as("src"))
        checkGraph(c, s"mapping.$name", hits, nTarget, saveK)
      }
      checkFloor(c, "nmi", nmi(labels), floors)
      checkFloor(c, "nmi_distributed", nmi(refined), floors)
      checkFloor(c, "knn_recall", recall(knn, exact), floors)
      checkFloor(c, "label_acc", labelAcc(classes), floors)
      c.quality.foreach { case (q, v) => c.summary(q) = f"$v%.6f" }
    }
  }

  /** ANN top-k recall against the exact self-KNN graph (exact L2 top-k,
    * self excluded, as the ANN graph) on a fixed sample of at most 256 cells. */
  private def recall(knn: DataFrame, exact: DataFrame): Double = {
    val stride = math.max(1L, n / 256)
    val sampled = col("src") % stride === 0 && col("src") < stride * 256
    val truth = exact.filter(sampled && col("rn") <= k).select("src", "dst")
    val ann = knn.filter(sampled && col("rn") <= k).select("src", "dst")
    ann.join(truth, Seq("src", "dst"), "left_semi").count().toDouble / truth.count()
  }

  /** Share of target cells assigned their planted block. */
  private def labelAcc(classes: DataFrame): Double = {
    val rows = classes.select("target_id", "assigned").collect()
    rows.count(r => r.getString(1) == (r.getLong(0) % nBlocks).toString).toDouble / rows.size
  }
}

/** `curation`: SparkEntry queries run once each, in order, cold, on the
  * fixed tables in `dataDir` (the seed selects nothing here). */
final class Curation(dataDir: String, queries: Seq[String],
                     fingerprints: Map[String, String]) extends Workload {
  type In = Unit
  private val all = graft.SparkEntry.queries
  private val names = queries.map(q => all.keys.find(_.takeWhile(_ != '_') == q)
    .getOrElse(throw new IllegalArgumentException(s"no query $q")))
  /** Warms the inputs: reads every table once through Spark. */
  def setup(s: SparkSession): Unit =
    new java.io.File(dataDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => s.read.parquet(f.getPath).foreach(_ => ()))
  def job(s: SparkSession, in: Unit, tr: Tracer): Checks => Unit = {
    val results = queries.zip(names).map { case (q, full) =>
      q -> tr.span(s"curation.$q") {
        val df = all(full)(s, dataDir)
        (df.collect(), df.schema)
      }
    }
    c => {
      var matched = 0
      results.foreach { case (q, (rows, schema)) =>
        val cols = schema.fieldNames.map(f => s"`$f`").mkString(", ")
        val fp = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .agg(count(lit(1)), expr(graft.core.Fingerprint.sqlExpr(cols))).head()
        val got = s"${fp.getLong(0)}:${fp.getString(1)}"
        c.summary(q) = got
        val want = fingerprints.getOrElse(s"fp.${new java.io.File(dataDir).getName}.$q", "")
        if (got == want) matched += 1
        c.check(s"curation.$q.fingerprint")(got == want, s"fingerprint $got, recorded $want")
      }
      c.quality("fingerprint_share") = matched.toDouble / results.size
    }
  }
}
