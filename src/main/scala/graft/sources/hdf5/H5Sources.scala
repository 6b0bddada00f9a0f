package graft.sources.hdf5

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-facing HDF5 ingestion — the CrH5 / H5ad / Loom / NaboH5 reader
  * family (scarf/readers.py:192-294, 588-920, 922-974, 976-1120) on the
  * pure-JVM [[H5Reader]].
  *
  * Scale design: the driver touches only metadata (group structure,
  * indptr, attribute tables); matrix payload reads are partitioned into
  * element ranges / chunk sets and executed by tasks that each open the
  * file locally (shared FS on a cluster — same assumption every
  * file-based Spark source makes). CSR slices are byte-range reads, so a
  * 100 TB store splits into as many independent scans as there are
  * partitions, with no driver materialization.
  */
object H5Sources {

  private val cooSchema = StructType(Seq(
    StructField("cell_id", LongType, nullable = false),
    StructField("feat_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** CSR group (data/indices/indptr, rows = cells) → COO DataFrame with
    * 0-based ids. Used by both H5ad `X` groups and 10x `matrix` groups.
    * Each task reads one contiguous element range [e0, e1) and carries
    * its indptr sub-slice, so no global structure ships to executors.
    */
  def csrCoo(spark: SparkSession, path: String, grp: String,
             nPartitions: Int = 32): DataFrame = {
    val r = new H5Reader(path)
    val indptr = try r.dataset(s"$grp/indptr").readLongs() finally r.close()
    val nCells = indptr.length - 1
    val nnz = indptr.last
    val per = math.max(1L, nnz / nPartitions)
    // contiguous cell ranges with ~equal nnz per task
    val ranges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var c0 = 0
    while (c0 < nCells) {
      var c1 = c0 + 1
      while (c1 < nCells && indptr(c1) - indptr(c0) < per) c1 += 1
      ranges += ((c0, c1))
      c0 = c1
    }
    val tasks = ranges.toSeq.map { case (a, b) =>
      (a, b, indptr.slice(a, b + 1)) // local indptr window
    }
    val rdd = spark.sparkContext.parallelize(tasks, math.max(1, tasks.size)).flatMap {
      case (cellLo, _, ptr) =>
        val rr = new H5Reader(path)
        try {
          val e0 = ptr.head; val e1 = ptr.last
          val data = rr.dataset(s"$grp/data").readDoubles(e0, e1)
          val idx = rr.dataset(s"$grp/indices").readLongs(e0, e1)
          (0 until ptr.length - 1).iterator.flatMap { ci =>
            val lo = (ptr(ci) - e0).toInt; val hi = (ptr(ci + 1) - e0).toInt
            (lo until hi).iterator.map(j =>
              Row((cellLo + ci).toLong, idx(j), data(j)))
          }.toVector
        } finally rr.close()
    }
    spark.createDataFrame(rdd, cooSchema)
  }

  /** Dense 2-d dataset (nRows × nCols) → COO of nonzeros, partitioned by
    * row ranges (Loom matrices are (features × cells); `transpose` swaps
    * the emitted ids so the output is always (cell_id, feat_id, value)).
    */
  def denseCoo(spark: SparkSession, path: String, dsPath: String,
               transpose: Boolean, nPartitions: Int = 32): DataFrame = {
    val r = new H5Reader(path)
    val dims = try r.dataset(dsPath).dims finally r.close()
    require(dims.length == 2, s"$dsPath is not 2-d")
    val (nr, nc) = (dims(0), dims(1))
    // per-task element count must stay well under Int.MaxValue (the slice
    // materializes as one byte array): cap rows-per-task accordingly
    val maxRowsPerTask = math.max(1L, (Int.MaxValue / 16) / math.max(1L, nc))
    val rowsPer = math.max(1L, math.min(nr / nPartitions, maxRowsPerTask))
    val tasks = (0L until nr by rowsPer).map(r0 => (r0, math.min(nr, r0 + rowsPer)))
    val rdd = spark.sparkContext.parallelize(tasks, tasks.size).flatMap { case (r0, r1) =>
      val rr = new H5Reader(path)
      try {
        val ds = rr.dataset(dsPath)
        val vals = ds.readDoubles(r0 * nc, r1 * nc)
        (0L until (r1 - r0) * nc).iterator
          .filter(i => vals(i.toInt) != 0.0).map { i =>
            val row = r0 + i / nc; val colI = i % nc
            if (transpose) Row(colI, row, vals(i.toInt)) else Row(row, colI, vals(i.toInt))
          }.toVector
      } finally rr.close()
    }
    spark.createDataFrame(rdd, cooSchema)
  }

  // ---------------------------------------------------------------- metadata
  /** Decode one named column of an attrs group with AnnData categorical
    * handling (scarf/readers.py:781-820): `codes`+`categories` subgroup,
    * `__categories/<key>` lookup, or `uns/<key>_categories` lookup.
    */
  private def columnValues(r: H5Reader, grp: String, key: String): (DataType, Array[Any]) = {
    val p = s"$grp/$key"
    if (r.isGroup(p) && r.exists(s"$p/codes") && r.exists(s"$p/categories")) {
      val codes = r.dataset(s"$p/codes").readLongs()
      val cats = r.dataset(s"$p/categories").readStrings()
      (StringType, codes.map(c => if (c >= 0 && c < cats.length) cats(c.toInt) else null))
    } else {
      val ds = r.dataset(p)
      val decoded: (DataType, Array[Any]) = ds.dtype match {
        case r.TString(_) | r.TVlenStr() => (StringType, ds.readStrings().map(identity[Any]))
        case r.TFloat(_) => (DoubleType, ds.readDoubles().map(identity[Any]))
        case r.TInt(_, _) =>
          val v = ds.readLongs()
          // integer column may be categorical codes with external categories
          val catPath =
            if (r.exists(s"$grp/__categories/$key")) Some(s"$grp/__categories/$key")
            else if (r.exists(s"uns/${key}_categories")) Some(s"uns/${key}_categories")
            else None
          catPath match {
            case Some(cp) =>
              val cats = r.dataset(cp).readStrings()
              if (v.forall(x => x >= 0 && x < cats.length))
                (StringType, v.map(x => cats(x.toInt): Any))
              else (LongType, v.map(identity[Any]))
            case None => (LongType, v.map(identity[Any]))
          }
        case t => sys.error(s"unsupported column type $t at $p")
      }
      decoded
    }
  }

  /** An AnnData-style attrs group (obs/var) → DataFrame. Handles both
    * group-of-datasets and single compound-dataset encodings; the index
    * key (`_index`, falling back to `index`) becomes column `id`; other
    * columns keep their names. Row order carries an `ordinal` column.
    */
  def attrsFrame(spark: SparkSession, path: String, grp: String,
                 idKey: String = "_index"): DataFrame = {
    val r = new H5Reader(path)
    try {
      val (names, cols): (Seq[String], Seq[(DataType, Array[Any])]) =
        if (!r.isGroup(grp)) {
          // compound dataset: one column per member
          val ds = r.dataset(grp)
          val c = ds.dtype.asInstanceOf[r.TCompound]
          val ns = c.members.map(_._1)
          (ns, ns.map { n =>
            val vals = ds.readCompoundColumn(n)
            val dt = c.members.find(_._1 == n).get._3 match {
              case r.TString(_) => StringType
              case r.TFloat(_) => DoubleType
              case _ => LongType
            }
            (dt, vals)
          })
        } else {
          val keys = r.childNames(grp).filterNot(_ == "__categories").sorted
          (keys, keys.map(k => columnValues(r, grp, k)))
        }
      val fixedId = if (names.contains(idKey)) idKey
        else if (idKey.startsWith("_") && names.contains(idKey.drop(1))) idKey.drop(1)
        else idKey
      val n = if (cols.isEmpty) 0 else cols.head._2.length
      val fields = names.zip(cols).map { case (nm, (dt, _)) =>
        StructField(if (nm == fixedId) "id" else nm, dt, nullable = true)
      } :+ StructField("ordinal", LongType, nullable = false)
      val rows = (0 until n).map { i =>
        Row.fromSeq(cols.map(_._2(i)) :+ i.toLong)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
        StructType(fields))
    } finally r.close()
  }

  /** H5adReader `obsm` import (scarf/readers.py:845-868): each 2-d
    * dataset `obsm/<name>` with nCells rows becomes per-cell columns
    * `<name>1 .. <name>d` (the reference's `f"{i}{j+1}"` naming), keyed
    * by `ordinal` for joining onto the obs frame. Mis-sized slots and a
    * missing/non-group `obsm` are skipped, as the reference does.
    *
    * Scale: embedding widths are small (2-50) but nCells is not, so each
    * slot is read by row-range tasks like [[denseCoo]] — the driver only
    * touches dims; slot frames then join on `ordinal`.
    */
  def obsmFrame(spark: SparkSession, path: String, nCells: Long,
                obsmKey: String = "obsm", nPartitions: Int = 32)
      : Option[DataFrame] = {
    val r = new H5Reader(path)
    val slots: Seq[(String, Long)] = try {
      if (!r.exists(obsmKey) || !r.isGroup(obsmKey)) Seq.empty
      else r.childNames(obsmKey).sorted.flatMap { nm =>
        val dims = r.dataset(s"$obsmKey/$nm").dims
        if (dims.length == 2 && dims(0) == nCells) Some((nm, dims(1))) else None
      }
    } finally r.close()
    if (slots.isEmpty) return None
    val frames = slots.map { case (nm, nc) =>
      val rowsPer = math.max(1L, nCells / nPartitions)
      val tasks = (0L until nCells by rowsPer)
        .map(r0 => (r0, math.min(nCells, r0 + rowsPer)))
      val schema = StructType(
        StructField("ordinal", LongType, nullable = false) +:
        (1L to nc).map(j => StructField(s"$nm$j", DoubleType, nullable = false)))
      val rdd = spark.sparkContext.parallelize(tasks, tasks.size).flatMap {
        case (r0, r1) =>
          val rr = new H5Reader(path)
          try {
            val vals = rr.dataset(s"$obsmKey/$nm").readDoubles(r0 * nc, r1 * nc)
            (r0 until r1).iterator.map { row =>
              val off = ((row - r0) * nc).toInt
              Row.fromSeq(row +: (0 until nc.toInt).map(j => vals(off + j)))
            }.toVector
          } finally rr.close()
      }
      spark.createDataFrame(rdd, schema)
    }
    Some(frames.reduce(_.join(_, "ordinal")))
  }

  // ---------------------------------------------------------------- readers
  /** H5adReader: (X as COO, obs, var). Dense `X` datasets are also
    * accepted (consume_dataset path, scarf/readers.py:881-893). When the
    * file carries an `obsm` group, its embedding matrices land as extra
    * per-cell columns on the obs frame (`X_umap1`, `X_umap2`, ... —
    * scarf/readers.py:630-644, 845-868).
    */
  def h5ad(spark: SparkSession, path: String, matrixKey: String = "X")
      : (DataFrame, DataFrame, DataFrame) = {
    val r = new H5Reader(path)
    val (isCsr, nCells) = try {
      val csr = r.isGroup(matrixKey)
      val n =
        if (csr) r.dataset(s"$matrixKey/indptr").dims(0) - 1
        else r.dataset(matrixKey).dims(0)
      (csr, n)
    } finally r.close()
    val coo =
      if (isCsr) csrCoo(spark, path, matrixKey)
      else denseCoo(spark, path, matrixKey, transpose = false)
    val obs0 = attrsFrame(spark, path, "obs")
    val obs = obsmFrame(spark, path, nCells) match {
      case Some(m) => obs0.join(m, "ordinal")
      case None => obs0
    }
    (coo, obs, attrsFrame(spark, path, "var"))
  }

  /** CrH5Reader: 10x CellRanger HDF5. Modern files root at `matrix` with
    * features/{id,name,feature_type}; legacy files root at the genome
    * group with genes/gene_names (scarf/readers.py:224-241). With
    * `isFiltered = false`, cells with total count <= cutoff are dropped
    * and re-indexed densely — computed distributively, mirroring
    * _get_valid_barcodes (scarf/readers.py:243-267).
    */
  def crH5(spark: SparkSession, path: String, isFiltered: Boolean = true,
           filteringCutoff: Long = 500): (DataFrame, DataFrame, DataFrame) = {
    val r = new H5Reader(path)
    val (grp, featIds, featNames, featTypes, barcodes) = try {
      val rootKeys = r.childNames("")
      // modern files root at "matrix"; legacy (multi-)genome roots are
      // picked deterministically by name (children order is not stable)
      val g = if (rootKeys.contains("matrix")) "matrix" else rootKeys.sorted.head
      if (g == "matrix") {
        val ids = r.dataset("matrix/features/id").readStrings()
        val names = r.dataset("matrix/features/name").readStrings()
        val types = if (r.exists("matrix/features/feature_type"))
          r.dataset("matrix/features/feature_type").readStrings()
        else Array.fill(ids.length)("RNA")
        (g, ids, names, types, r.dataset("matrix/barcodes").readStrings())
      } else {
        val ids = r.dataset(s"$g/genes").readStrings()
        val names = r.dataset(s"$g/gene_names").readStrings()
        (g, ids, names, Array.fill(ids.length)("RNA"),
          r.dataset(s"$g/barcodes").readStrings())
      }
    } finally r.close()
    val cooAll = csrCoo(spark, path, grp)
    val feats = {
      import spark.implicits._
      featIds.zip(featNames).zip(featTypes).zipWithIndex
        .map { case (((i, n), t), ix) => (ix.toLong, i, n, t) }.toSeq
        .toDF("feat_id", "id", "name", "feature_type")
    }
    val cells = {
      import spark.implicits._
      barcodes.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toSeq
        .toDF("cell_id", "barcode")
    }
    if (isFiltered) (cooAll, cells, feats)
    else {
      // background filtering: keep cells with sum(value) > cutoff, densely
      // re-indexed in original order (distributed; no driver pass)
      val keep = cooAll.groupBy("cell_id")
        .agg(sum(col("value")).as("tot"))
        .filter(col("tot") > filteringCutoff)
        .select("cell_id")
      val reindex = graft.ops.Windows.globalOrdinal(keep, Seq(col("cell_id")), "new_id")
        .select(col("cell_id"), (col("new_id") - 1).as("new_id"))
      val coo = cooAll.join(reindex, Seq("cell_id"))
        .select(col("new_id").as("cell_id"), col("feat_id"), col("value"))
      val cellsKept = cells.join(reindex, Seq("cell_id"))
        .select(col("new_id").as("cell_id"), col("barcode"))
      (coo, cellsKept, feats)
    }
  }

  /** CrToZarr's multi-assay split (scarf/writers.py:245-365): partition a
    * CrH5 COO stream into per-assay matrices by `feature_type`, with
    * feature ids remapped to dense 0-based per-assay ordinals (the
    * offset remap the reference applies per feature-index range).
    * Returns assayName → (coo, feats) with feats carrying the original
    * id/name columns plus the new dense `feat_id`.
    */
  def splitAssays(coo: DataFrame, feats: DataFrame)
      : Map[String, (DataFrame, DataFrame)] = {
    val spark = coo.sparkSession
    import spark.implicits._
    // driver-bound: one row per feature type
    val types = feats.select("feature_type").distinct().as[String].collect().sorted
    types.map { t =>
      val sub = feats.filter(col("feature_type") === t)
      val remap = graft.ops.Windows.globalOrdinal(
          sub.select("feat_id"), Seq(col("feat_id")), "pos")
        .select(col("feat_id"), (col("pos") - 1).as("new_id"))
      val newFeats = sub.join(remap, Seq("feat_id"))
        .drop("feat_id").withColumnRenamed("new_id", "feat_id")
      val newCoo = coo.join(broadcast(remap), Seq("feat_id"))
        .select(col("cell_id"), col("new_id").as("feat_id"), col("value"))
      t -> (newCoo, newFeats)
    }.toMap
  }

  /** LoomReader: dense (features × cells) `matrix` + row/col attrs
    * (scarf/readers.py:976-1120). Output COO is (cell_id, feat_id, value).
    */
  def loom(spark: SparkSession, path: String, matrixKey: String = "matrix",
           cellAttrsKey: String = "col_attrs", featureAttrsKey: String = "row_attrs")
      : (DataFrame, DataFrame, DataFrame) = {
    val coo = denseCoo(spark, path, matrixKey, transpose = true)
    def attrsOf(grp: String): DataFrame = {
      val r = new H5Reader(path)
      try {
        if (!r.exists(grp)) return spark.emptyDataFrame
      } finally r.close()
      attrsFrame(spark, path, grp, idKey = "__none__")
    }
    (coo, attrsOf(cellAttrsKey), attrsOf(featureAttrsKey))
  }

  /** NaboH5Reader: per-cell compound datasets cell_data/<name> with idx
    * (feature index) and val columns; names/{cells,genes} hold ids
    * (scarf/readers.py:922-974). Feature names strip the trailing
    * `_suffix` token, as the reference does.
    */
  def naboH5(spark: SparkSession, path: String): (DataFrame, DataFrame, DataFrame) = {
    val r = new H5Reader(path)
    val (cellNames, geneNames) = try {
      (r.dataset("names/cells").readStrings(), r.dataset("names/genes").readStrings())
    } finally r.close()
    import spark.implicits._
    val cellIdx = cellNames.zipWithIndex.map { case (n, i) => (n, i.toLong) }.toMap
    val tasks = spark.sparkContext.parallelize(cellNames.toSeq, math.max(1, cellNames.length / 64))
    val rdd = tasks.flatMap { cn =>
      val rr = new H5Reader(path)
      try {
        val ds = rr.dataset(s"cell_data/$cn")
        val idx = ds.readCompoundColumn("idx").map(_.asInstanceOf[Long])
        val vl = ds.readCompoundColumn("val").map(_.asInstanceOf[Long])
        idx.indices.map(i => Row(cellIdx(cn), idx(i), vl(i).toDouble))
      } finally rr.close()
    }
    val coo = spark.createDataFrame(rdd, cooSchema)
    val cells = cellNames.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toSeq
      .toDF("cell_id", "id")
    val feats = geneNames.zipWithIndex.map { case (n, i) =>
      // rsplit("_", 1)[0] (readers.py:957): strip only PAST the last
      // underscore; a name with no underscore keeps its full form
      val cut = n.lastIndexOf('_')
      (i.toLong, s"feature_$i", if (cut >= 0) n.substring(0, cut) else n)
    }.toSeq.toDF("feat_id", "id", "name")
    (coo, cells, feats)
  }

  // ---------------------------------------------------------------- export
  /** to_h5ad (scarf/writers.py:1113-1259): COO + cell/feature metadata →
    * AnnData-compatible file: X as a CSR group with encoding attrs, obs
    * and var frames with `_index` + column-order attrs. String columns
    * are fixed-size (vs the reference's vlen) — readable by h5py/AnnData
    * either way.
    *
    * Cell and feature ids in `coo` may be ARBITRARY (masked/sparse) —
    * they are re-indexed to dense CSR positions against the provided
    * cells/feats frames (cell_id sort order), so a filtered DataStore
    * exports correctly. Single-node boundary: the CSR arrays and the
    * output file are built in driver memory (same boundary as the
    * reference's h5py writer); files are capped at 2 GB by the in-memory
    * builder — `save` raises past that rather than corrupting.
    */
  def toH5ad(coo: DataFrame, cells: DataFrame, feats: DataFrame, path: String,
             obsm: Map[String, DataFrame] = Map.empty): Unit = {
    val nCells = cells.count().toInt
    val nFeats = feats.count().toInt
    // dense re-index: ordinal position of each id in its metadata frame
    val cellRemap = graft.ops.Windows.globalOrdinal(
        cells.select("cell_id"), Seq(col("cell_id")), "pos")
      .select(col("cell_id"), (col("pos") - 1).as("c_pos"))
    val featRemap = graft.ops.Windows.globalOrdinal(
        feats.select("feat_id"), Seq(col("feat_id")), "pos")
      .select(col("feat_id"), (col("pos") - 1).as("f_pos"))
    val w = new H5Writer
    // X: stream CSR in dense cell order
    val indptr = new Array[Long](nCells + 1)
    val dataB = scala.collection.mutable.ArrayBuffer.empty[Double]
    val idxB = scala.collection.mutable.ArrayBuffer.empty[Int]
    val it = coo
      .join(cellRemap, Seq("cell_id"))
      .join(broadcast(featRemap), Seq("feat_id"))
      .select(col("c_pos"), col("f_pos"), col("value").cast("double"))
      .orderBy("c_pos", "f_pos").toLocalIterator()
    var prev = 0L
    var n = 0L
    while (it.hasNext) {
      val row = it.next()
      val c = row.getLong(0)
      while (prev < c) { prev += 1; indptr(prev.toInt) = n }
      idxB += row.getLong(1).toInt
      dataB += row.getDouble(2)
      n += 1
    }
    while (prev < nCells) { prev += 1; indptr(prev.toInt) = n }
    w.putDoubles("X/data", dataB.toArray)
    w.putInts("X/indices", idxB.toArray)
    w.putLongs("X/indptr", indptr)
    w.attrStr("X", "encoding-type", "csr_matrix")
    w.attrStr("X", "encoding-version", "0.1.0")
    w.attrLongs("X", "shape", Array(nCells.toLong, nFeats.toLong))

    // order by the internal ordinal, drop it, and map the `ids` column to
    // `_index` (scarf/writers.py:1204: save_attr("obs", "_index", "ids")).
    // A frame WITHOUT an `ids` column (e.g. crH5 output keyed by barcode)
    // gets `_index` synthesized from the ordinal — the dataframe-encoding
    // attrs must never name a dataset that doesn't exist (silent AnnData
    // incompatibility otherwise). Rows stream via toLocalIterator like the
    // matrix path, so a very tall obs never collects as a Row[].
    def writeFrame(grp: String, df0: DataFrame, ordCol: String): Unit = {
      val df = if (df0.columns.contains("ids")) df0
               else df0.withColumn("ids", col(ordCol).cast("string"))
      val cols = df.columns.toSeq.filterNot(_ == ordCol)
      val longB = Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]] ++
        cols.collect { case c if (df.schema(c).dataType == LongType ||
          df.schema(c).dataType == IntegerType) =>
          c -> scala.collection.mutable.ArrayBuffer.empty[Long] }
      val dblB = Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]] ++
        cols.collect { case c if (df.schema(c).dataType == DoubleType ||
          df.schema(c).dataType == FloatType) =>
          c -> scala.collection.mutable.ArrayBuffer.empty[Double] }
      val strB = Map.empty[String, scala.collection.mutable.ArrayBuffer[String]] ++
        cols.collect { case c if !longB.contains(c) && !dblB.contains(c) =>
          c -> scala.collection.mutable.ArrayBuffer.empty[String] }
      val proj = df.orderBy(ordCol).select(cols.map(col): _*)
      val it = proj.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        cols.zipWithIndex.foreach { case (c, i) =>
          if (longB.contains(c)) longB(c) += r.get(i).asInstanceOf[Number].longValue()
          else if (dblB.contains(c)) dblB(c) += r.get(i).asInstanceOf[Number].doubleValue()
          else strB(c) += String.valueOf(r.get(i))
        }
      }
      val outCols = cols.map { c =>
        val name = if (c == "ids") "_index" else c
        if (longB.contains(c)) w.putLongs(s"$grp/$name", longB(c).toArray)
        else if (dblB.contains(c)) w.putDoubles(s"$grp/$name", dblB(c).toArray)
        else w.putStrings(s"$grp/$name", strB(c).toArray)
        name
      }
      w.attrStr(grp, "_index", "_index")
      w.attrStrArray(grp, "column-order", outCols.filterNot(_ == "_index").toArray)
      w.attrStr(grp, "encoding-type", "dataframe")
      w.attrStr(grp, "encoding-version", "0.1.0")
    }
    writeFrame("obs", cells, "cell_id")
    writeFrame("var", feats, "feat_id")
    // obsm export: each (cell_id, v1..vd) frame becomes a dense 2-d
    // dataset obsm/<name> in dense cell order — the inverse of
    // [[obsmFrame]], so a toH5ad → h5ad round-trip preserves embeddings.
    obsm.foreach { case (nm, df) =>
      val vcols = df.columns.toSeq.filterNot(_ == "cell_id")
      val d = vcols.length
      val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
      val it2 = df.join(cellRemap, Seq("cell_id")).orderBy("c_pos")
        .select(vcols.map(c => col(c).cast("double")): _*).toLocalIterator()
      while (it2.hasNext) {
        val r = it2.next()
        (0 until d).foreach(i => buf += r.getDouble(i))
      }
      require(buf.length == nCells.toLong * d,
        s"obsm/$nm has ${buf.length / math.max(1, d)} rows; expected $nCells")
      w.putDense2D(s"obsm/$nm", nCells.toLong, d.toLong, buf.toArray)
    }
    w.save(path)
  }
}
