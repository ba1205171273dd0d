package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta Lake transaction log (the PUBLIC protocol spec,
  * delta.io/sharing / delta-io/delta PROTOCOL.md) — the lakehouse
  * table format large curated corpora actually live in. This reads
  * and writes the LOG, not the delta-spark library: a `_delta_log/`
  * directory of `%020d.json` commits (one JSON action per line —
  * `protocol`, `metaData`, `add`, `remove`, `commitInfo`), optional
  * classic `%020d.checkpoint.parquet` files and the
  * `_last_checkpoint` pointer.
  *
  * Reading ([[snapshot]] / [[read]]):
  *  - picks the newest checkpoint at-or-below the requested version
  *    (by listing the log dir — `_last_checkpoint` is written for
  *    ecosystem compatibility but the listing is authoritative,
  *    which also survives a stale pointer), loads its
  *    add/remove/metaData rows through a plain parquet scan, then
  *    replays the subsequent JSON commits in version order:
  *    `add` upserts by path, `remove` deletes by path, latest
  *    `metaData`/`protocol` win. Missing intermediate versions are
  *    an error (a torn log must not silently read as an older
  *    table).
  *  - [[read]] materializes the live-file list, groups files by
  *    their `partitionValues` and unions one pruned parquet scan
  *    per partition-value combination with the partition columns
  *    injected as typed literals (Delta stores partition values
  *    ONLY in the log — the data files don't carry the columns).
  *    `schemaString` is Spark schema JSON by protocol definition,
  *    so the scan schema is exact, not inferred.
  *  - protocol gate: `minReaderVersion` ≤ 2 reads plainly; 3 reads
  *    when every listed reader feature is HONOURED — and since late
  *    r12 the two that matter are: DELETION VECTORS (the descriptor
  *    on `add` resolves through [[Roaring]] — inline Z85, UUID-named
  *    `.bin` files with CRC framing, or absolute paths — decoded
  *    driver-side, broadcast, and applied as a `_metadata.row_index`
  *    mask so deleted rows never resurrect) and COLUMN MAPPING mode
  *    "name" (files scanned under their physical parquet names from
  *    the schema's `delta.columnMapping.physicalName` metadata,
  *    renamed back to logical; partition values are keyed by
  *    physical name too) and COLUMN MAPPING mode "id" (the scan
  *    schema carries `parquet.field.id` metadata from the delta
  *    ids and Spark's field-ID reader resolves columns regardless
  *    of the files' drifted physical names) — and since this
  *    session V2 CHECKPOINTS (UUID-named json/parquet manifests
  *    whose `checkpointMetadata` must self-identify the version and
  *    whose file actions arrive inline or through `_sidecars/`
  *    parquet files) plus classic MULTI-PART checkpoints (complete
  *    `<v>.checkpoint.<k>.<n>.parquet` sets only — a torn upload
  *    must not read as a smaller table). Any unknown feature still
  *    rejects honestly rather than mis-reads.
  *
  * Writing ([[create]] / [[commit]] / [[writeCheckpoint]]): commits
  * render one action per line in the protocol's field order;
  * checkpoints are the classic single-file parquet with
  * protocol/metaData/add rows and a `_last_checkpoint` pointer.
  *
  * Scale notes (100 TB): the log dir listing is O(#commits) and
  * checkpoints cap replay length; the reconstructed file LIST is
  * O(#live files) on the driver — the same contract as
  * delta-standalone — while the DATA is only ever touched by
  * executor-side parquet scans with pushdown intact (the per-
  * partition-group union keeps `PushedFilters` live per branch).
  * Validation: DeltaLogSpec (multi-version replay, checkpoint
  * equivalence, partition typing, torn-log/protocol rejections)
  * plus two oracle-gated queries over a lineitem-derived fixture
  * table. */
object DeltaLog {

  /** A deletion-vector descriptor (PROTOCOL.md): `storageType` is
    * "i" (inline — pathOrInlineDv is the Z85-encoded
    * RoaringBitmapArray), "u" (a UUID-named `.bin` under the table,
    * pathOrInlineDv = [randomPrefix]z85(UUID), `offset` points at
    * the u32-BE size field inside the file) or "p" (absolute
    * path). */
  final case class DvDescriptor(storageType: String,
      pathOrInlineDv: String, offset: Option[Int],
      sizeInBytes: Int, cardinality: Long)
  final case class AddFile(path: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean,
      deletionVector: Option[DvDescriptor] = None)
  final case class Meta(id: String, schemaString: String,
      partitionColumns: Seq[String],
      configuration: Map[String, String] = Map.empty)
  final case class Protocol(minReader: Int, minWriter: Int,
      readerFeatures: Seq[String] = Seq.empty)
  final case class Snapshot(version: Long, meta: Meta,
      protocol: Protocol, files: Seq[AddFile])

  /** Reader features this implementation actually honours.
    * Anything else in a v3 protocol rejects honestly. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz",
      "v2Checkpoint")

  private def logDir(table: String) = s"$table/_delta_log"
  private def commitFile(v: Long) = f"$v%020d.json"
  private def checkpointFile(v: Long) = f"$v%020d.checkpoint.parquet"
  private def multipartFile(v: Long, part: Int, parts: Int) =
    f"$v%020d.checkpoint.$part%010d.$parts%010d.parquet"

  /** One readable checkpoint: `files` are log-dir file NAMES —
    * classic single (one parquet), classic multi-part (all N parts,
    * only listed when the set is COMPLETE), or a v2 manifest
    * (`<v>.checkpoint.<uuid>.{json|parquet}` whose file actions may
    * live in `_sidecars/` parquet files). */
  final case class Checkpoint(version: Long, files: Seq[String],
      v2: Boolean)

  // ---------------------------------------------------------------
  // Hadoop FS helpers (work on any Spark-visible filesystem)
  // ---------------------------------------------------------------

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def readText(spark: SparkSession, path: String): String = {
    val (f, p) = fs(spark, path)
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeText(spark: SparkSession, path: String,
      text: String): Unit = {
    val (f, p) = fs(spark, path)
    val out = f.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  // ---------------------------------------------------------------
  // Action JSON (render + parse via JsonMini)
  // ---------------------------------------------------------------

  private def q(s: String) = JsonMini.quote(s)

  private def mapJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:${q(v)}" }
      .mkString("{", ",", "}")

  def addJson(a: AddFile): String = {
    val dv = a.deletionVector.map { d =>
      s""","deletionVector":{"storageType":${q(d.storageType)},""" +
        s""""pathOrInlineDv":${q(d.pathOrInlineDv)}""" +
        d.offset.map(o => s""","offset":$o""").getOrElse("") +
        s""","sizeInBytes":${d.sizeInBytes},""" +
        s""""cardinality":${d.cardinality}}"""
    }.getOrElse("")
    s"""{"add":{"path":${q(a.path)},"partitionValues":${
      mapJson(a.partitionValues)},"size":${a.size},""" +
      s""""modificationTime":${a.modificationTime},""" +
      s""""dataChange":${a.dataChange}$dv}}"""
  }

  def removeJson(path: String, deletionTimestamp: Long,
      dataChange: Boolean = true): String =
    s"""{"remove":{"path":${q(path)},"deletionTimestamp":${
      deletionTimestamp},"dataChange":$dataChange}}"""

  /** A `cdc` action: a change-data file under `_change_data/`
    * (PROTOCOL.md "Add CDC File"); dataChange is false by spec —
    * cdc files never participate in snapshot reconstruction. */
  def cdcJson(path: String, partitionValues: Map[String, String],
      size: Long): String =
    s"""{"cdc":{"path":${q(path)},"partitionValues":${
      mapJson(partitionValues)},"size":$size,"dataChange":false}}"""

  def metaJson(m: Meta): String =
    s"""{"metaData":{"id":${q(m.id)},"format":{"provider":"parquet",""" +
      s""""options":{}},"schemaString":${q(m.schemaString)},""" +
      s""""partitionColumns":[${m.partitionColumns.map(q).mkString(",")}],""" +
      s""""configuration":${mapJson(m.configuration)},"createdTime":0}}"""

  def protocolJson(p: Protocol): String = {
    val feats =
      if (p.readerFeatures.isEmpty) ""
      else s""","readerFeatures":[${
        p.readerFeatures.map(q).mkString(",")}],""" +
        s""""writerFeatures":[${
          p.readerFeatures.map(q).mkString(",")}]"""
    s"""{"protocol":{"minReaderVersion":${p.minReader},""" +
      s""""minWriterVersion":${p.minWriter}$feats}}"""
  }

  /** Write one commit: actions, one JSON per line. */
  def commit(spark: SparkSession, table: String, version: Long,
      actions: Seq[String]): Unit =
    writeText(spark, s"${logDir(table)}/${commitFile(version)}",
      actions.mkString("", "\n", "\n"))

  /** One parsed commit's actions (the log-tail unit of work). */
  final case class CommitActions(adds: Seq[AddFile],
      removes: Seq[String], meta: Option[Meta],
      protocol: Option[Protocol],
      /** Change-data files (`cdc` actions) — AddFile-shaped:
        * path + partitionValues + size; dataChange is always
        * false on the wire. */
      cdcs: Seq[AddFile] = Nil,
      /** Paths of removes carrying dataChange=true — the inputs
        * to CDF derivation for commits without cdc actions. */
      removesDataChange: Seq[String] = Nil)

  /** Parse one commit file's text (JSON action per line). None on
    * any malformed line — a torn commit must fail, not drop. */
  def parseCommit(text: String): Option[CommitActions] = {
    val actions = JsonMini.parseLines(text).getOrElse(return None)
    val adds = Seq.newBuilder[AddFile]
    val removes = Seq.newBuilder[String]
    val removesDc = Seq.newBuilder[String]
    val cdcs = Seq.newBuilder[AddFile]
    var meta: Option[Meta] = None
    var protocol: Option[Protocol] = None
    actions.foreach { a =>
      val m = JsonMini.obj(a).getOrElse(return None)
      m.get("add").flatMap(JsonMini.obj).foreach { ad =>
        val dv = ad.get("deletionVector").map { dvj =>
          val dm = JsonMini.obj(dvj).getOrElse(return None)
          DvDescriptor(
            JsonMini.str(dm.getOrElse("storageType", return None))
              .getOrElse(return None),
            JsonMini.str(dm.getOrElse("pathOrInlineDv", return None))
              .getOrElse(return None),
            dm.get("offset").map(o =>
              JsonMini.long(o).getOrElse(return None).toInt),
            JsonMini.long(dm.getOrElse("sizeInBytes", return None))
              .getOrElse(return None).toInt,
            JsonMini.long(dm.getOrElse("cardinality", return None))
              .getOrElse(return None))
        }
        adds += AddFile(
          JsonMini.str(ad.getOrElse("path", return None))
            .getOrElse(return None),
          JsonMini.obj(ad.getOrElse("partitionValues", Map.empty))
            .getOrElse(Map.empty).map { case (k, v2) =>
              (k, JsonMini.str(v2).orNull) },
          JsonMini.long(ad.getOrElse("size", 0.0)).getOrElse(0L),
          JsonMini.long(ad.getOrElse("modificationTime", 0.0))
            .getOrElse(0L),
          ad.get("dataChange").contains(true),
          dv)
      }
      m.get("remove").flatMap(JsonMini.obj).foreach { rm =>
        val p = JsonMini.str(rm.getOrElse("path", return None))
          .getOrElse(return None)
        removes += p
        // protocol default for remove.dataChange is TRUE — writers
        // may omit the field, and a derived change feed must still
        // see those rows as deletes
        if (rm.get("dataChange").forall(_ == true)) removesDc += p
      }
      m.get("cdc").flatMap(JsonMini.obj).foreach { cd =>
        cdcs += AddFile(
          JsonMini.str(cd.getOrElse("path", return None))
            .getOrElse(return None),
          JsonMini.obj(cd.getOrElse("partitionValues", Map.empty))
            .getOrElse(Map.empty).map { case (k, v2) =>
              (k, JsonMini.str(v2).orNull) },
          JsonMini.long(cd.getOrElse("size", 0.0)).getOrElse(0L),
          0L, dataChange = false, None)
      }
      m.get("metaData").flatMap(JsonMini.obj).foreach { md =>
        meta = Some(Meta(
          JsonMini.str(md.getOrElse("id", "")).getOrElse(""),
          JsonMini.str(md.getOrElse("schemaString", return None))
            .getOrElse(return None),
          JsonMini.arr(md.getOrElse("partitionColumns", Seq.empty))
            .getOrElse(Seq.empty)
            .map(x => JsonMini.str(x).getOrElse(return None)),
          JsonMini.obj(md.getOrElse("configuration", Map.empty))
            .getOrElse(Map.empty).map { case (k, v2) =>
              (k, JsonMini.str(v2).orNull) }))
      }
      m.get("protocol").flatMap(JsonMini.obj).foreach { pr =>
        protocol = Some(Protocol(
          JsonMini.long(pr.getOrElse("minReaderVersion", return None))
            .getOrElse(return None).toInt,
          JsonMini.long(pr.getOrElse("minWriterVersion", return None))
            .getOrElse(return None).toInt,
          JsonMini.arr(pr.getOrElse("readerFeatures", Seq.empty))
            .getOrElse(Seq.empty)
            .map(x => JsonMini.str(x).getOrElse(return None))))
      }
    }
    Some(CommitActions(adds.result(), removes.result(), meta,
      protocol, cdcs.result(), removesDc.result()))
  }

  // ---------------------------------------------------------------
  // Snapshot reconstruction
  // ---------------------------------------------------------------

  private val MultipartRe =
    """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r
  private val V2CpRe =
    """^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(json|parquet)$""".r

  private def listLog(spark: SparkSession, table: String)
      : (Seq[Long], Seq[Checkpoint]) = {
    val (f, p) = fs(spark, logDir(table))
    if (!f.exists(p)) sys.error(s"not a delta table: $table")
    val names = f.listStatus(p).map(_.getPath.getName).toSeq
    val commits = names.collect {
      case n if n.length == 25 && n.endsWith(".json") &&
        n.take(20).forall(_.isDigit) => n.take(20).toLong
    }.sorted
    val classic = names.collect {
      case n if n.endsWith(".checkpoint.parquet") &&
        n.length == 39 && n.take(20).forall(_.isDigit) =>
        Checkpoint(n.take(20).toLong, Seq(n), v2 = false)
    }
    // multi-part sets surface only when COMPLETE — a torn upload
    // must not read as a smaller table
    val multipart = names.collect {
      case n @ MultipartRe(v, k, of) => (v.toLong, of.toInt,
        k.toInt, n)
    }.groupBy(t => (t._1, t._2)).collect {
      case ((v, of), parts)
          if parts.map(_._3).sorted == (1 to of) =>
        Checkpoint(v, parts.sortBy(_._3).map(_._4), v2 = false)
    }
    val v2 = names.collect {
      case n @ V2CpRe(v, _, _) => Checkpoint(v.toLong, Seq(n),
        v2 = true)
    }
    // selection preference at equal version: classic single, then
    // complete multi-part, then v2 (any complete form is valid per
    // the protocol; the order only pins determinism)
    val all = (classic ++ multipart ++ v2)
      .sortBy(c => (c.version, if (c.v2) 2 else c.files.length.min(2) - 1))
    (commits, all)
  }

  /** Load one checkpoint's state rows — classic parts are a direct
    * parquet scan; a v2 manifest contributes protocol/metaData/
    * checkpointMetadata itself and its file actions come inline or
    * through `_sidecars/` parquet files. Returns
    * (protocol, meta, adds in file order). */
  private def loadCheckpoint(spark: SparkSession, table: String,
      cp: Checkpoint): (Option[Protocol], Option[Meta], Seq[AddFile]) = {
    var meta: Option[Meta] = None
    var protocol: Option[Protocol] = None
    val adds = Seq.newBuilder[AddFile]
    var cpMetaVersion: Option[Long] = None
    val sidecars = Seq.newBuilder[String]

    def rowDv(r: Row): Option[DvDescriptor] =
      if (r.schema.fieldNames.contains("deletionVector"))
        Option(r.getAs[Row]("deletionVector")).map { d =>
          DvDescriptor(d.getAs[String]("storageType"),
            d.getAs[String]("pathOrInlineDv"),
            Option(d.getAs[java.lang.Integer]("offset")).map(_.toInt),
            d.getAs[Int]("sizeInBytes"),
            d.getAs[Long]("cardinality"))
        }
      else None
    def addFromRow(r: Row): AddFile = AddFile(
      r.getAs[String]("path"),
      Option(r.getAs[Map[String, String]]("partitionValues"))
        .getOrElse(Map.empty),
      r.getAs[Long]("size"), r.getAs[Long]("modificationTime"),
      r.getAs[Boolean]("dataChange"), rowDv(r))

    def scanParquet(paths: Seq[String]): Unit = {
      val cp0 = spark.read.parquet(paths: _*)
      val cols = cp0.columns.toSet
      def takeStruct(name: String): Seq[Row] =
        if (cols(name))
          cp0.filter(col(name).isNotNull).select(col(name + ".*"))
            .collect().toSeq
        else Seq.empty
      takeStruct("protocol").foreach { r =>
        protocol = Some(Protocol(r.getAs[Int]("minReaderVersion"),
          r.getAs[Int]("minWriterVersion"),
          if (r.schema.fieldNames.contains("readerFeatures"))
            Option(r.getAs[scala.collection.Seq[String]](
              "readerFeatures")).map(_.toSeq).getOrElse(Seq.empty)
          else Seq.empty))
      }
      takeStruct("metaData").foreach { r =>
        meta = Some(Meta(r.getAs[String]("id"),
          r.getAs[String]("schemaString"),
          r.getAs[scala.collection.Seq[String]]("partitionColumns")
            .toSeq,
          if (r.schema.fieldNames.contains("configuration"))
            Option(r.getAs[Map[String, String]]("configuration"))
              .getOrElse(Map.empty)
          else Map.empty))
      }
      takeStruct("checkpointMetadata").foreach { r =>
        cpMetaVersion = Some(r.getAs[Long]("version"))
      }
      takeStruct("sidecar").foreach { r =>
        sidecars += r.getAs[String]("path")
      }
      takeStruct("add").foreach(r => adds += addFromRow(r))
      // remove rows in a checkpoint are expired tombstones — they
      // carry no live state; nothing to apply
    }

    if (cp.v2 && cp.files.head.endsWith(".json")) {
      // v2 JSON manifest: one action per line
      val text = readText(spark,
        s"${logDir(table)}/${cp.files.head}")
      val lines = JsonMini.parseLines(text).getOrElse(
        sys.error(s"malformed v2 checkpoint ${cp.files.head}"))
      val asCommit = parseCommit(text).getOrElse(
        sys.error(s"malformed v2 checkpoint ${cp.files.head}"))
      adds ++= asCommit.adds
      meta = asCommit.meta
      protocol = asCommit.protocol
      lines.foreach { a =>
        val m = JsonMini.obj(a).getOrElse(Map.empty)
        m.get("checkpointMetadata").flatMap(JsonMini.obj).foreach {
          cm => cpMetaVersion = JsonMini.long(
            cm.getOrElse("version", -1L))
        }
        m.get("sidecar").flatMap(JsonMini.obj).foreach { sc =>
          sidecars += JsonMini.str(sc.getOrElse("path",
            sys.error("sidecar without path"))).getOrElse(
            sys.error("sidecar path is not a string"))
        }
      }
    } else scanParquet(
      cp.files.map(n => s"${logDir(table)}/$n"))

    if (cp.v2) {
      // the manifest must self-identify (a mis-named or truncated
      // manifest must not read as this version's state)
      require(cpMetaVersion.contains(cp.version),
        s"v2 checkpoint ${cp.files.head}: checkpointMetadata " +
          s"version $cpMetaVersion != ${cp.version}")
      val scs = sidecars.result()
      if (scs.nonEmpty) {
        val paths = scs.map(p =>
          if (p.contains("/")) p
          else s"${logDir(table)}/_sidecars/$p")
        val sc = spark.read.parquet(paths: _*)
        val cols = sc.columns.toSet
        require(cols("add"), "v2 sidecars carry no add column")
        sc.filter(col("add").isNotNull).select(col("add.*"))
          .collect().foreach(r => adds += addFromRow(r))
      }
    }
    (protocol, meta, adds.result())
  }

  /** State reconstruction at `versionOpt` (None = latest). */
  def snapshot(spark: SparkSession, table: String,
      versionOpt: Option[Long] = None): Snapshot = {
    val (commits, checkpoints) = listLog(spark, table)
    require(commits.nonEmpty || checkpoints.nonEmpty,
      s"empty delta log: $table")
    val latest = (commits ++ checkpoints.map(_.version)).max
    val version = versionOpt.getOrElse(latest)
    require(version >= 0 && version <= latest,
      s"version $version out of range [0,$latest]")

    // newest complete checkpoint at-or-below the target; at equal
    // version the listing's preference order picks the form
    val cpSel = {
      val cands = checkpoints.filter(_.version <= version)
      if (cands.isEmpty) None
      else {
        val vmax = cands.map(_.version).max
        cands.find(_.version == vmax) // listing is pref-sorted
      }
    }
    var meta: Option[Meta] = None
    var protocol: Option[Protocol] = None
    val files = scala.collection.mutable.LinkedHashMap[String, AddFile]()

    cpSel.foreach { cp =>
      val (p0, m0, adds) = loadCheckpoint(spark, table, cp)
      protocol = p0
      meta = m0
      adds.foreach(a => files(a.path) = a)
    }

    val replayFrom = cpSel.map(_.version + 1).getOrElse(0L)
    val need = (replayFrom to version)
    val have = commits.filter(v => v >= replayFrom && v <= version)
    require(have == need,
      s"torn delta log: have versions $have, need $need")
    need.foreach { v =>
      val text = readText(spark,
        s"${logDir(table)}/${commitFile(v)}")
      val c = parseCommit(text).getOrElse(
        sys.error(s"malformed commit $v in $table"))
      c.adds.foreach(a => files(a.path) = a)
      c.removes.foreach(p => files.remove(p): Unit)
      c.meta.foreach(m => meta = Some(m))
      c.protocol.foreach(p => protocol = Some(p))
    }
    val p = protocol.getOrElse(sys.error(s"no protocol in $table"))
    // protocol gate: ≤ 2 always readable; 3 readable iff every
    // listed reader feature is one we HONOUR (deletion vectors are
    // applied, column mapping resolved) — an unknown feature would
    // mis-read, so it rejects
    if (p.minReader == 3) {
      require(p.readerFeatures.nonEmpty,
        "protocol v3 without readerFeatures — cannot know what " +
          "the table needs, refusing to mis-read")
      val unsupported =
        p.readerFeatures.filterNot(SupportedReaderFeatures)
      require(unsupported.isEmpty,
        s"unsupported delta reader features $unsupported — " +
          "refusing to mis-read")
    } else require(p.minReader <= 2,
      s"unsupported delta reader version ${p.minReader} — " +
        "refusing to mis-read")
    val cmMode = meta.flatMap(
      _.configuration.get("delta.columnMapping.mode"))
      .getOrElse("none")
    require(cmMode == "none" || cmMode == "name" || cmMode == "id",
      s"unsupported column mapping mode $cmMode — refusing to " +
        "mis-name")
    Snapshot(version,
      meta.getOrElse(sys.error(s"no metaData in $table")), p,
      files.values.toSeq)
  }

  /** The table as a DataFrame at `versionOpt` (None = latest). */
  def read(spark: SparkSession, table: String,
      versionOpt: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, versionOpt)
    readFiles(spark, table, snap.meta, snap.files)
  }

  /** Change Data Feed read — `table_changes(fromV, toV)`, both
    * inclusive: one row per change with `_change_type`
    * (insert / update_preimage / update_postimage / delete) and
    * `_commit_version` columns (PROTOCOL.md "Change Data Files").
    * Per spec, a commit WITH `cdc` actions is described by exactly
    * those files (they carry `_change_type` themselves); a commit
    * WITHOUT them derives its feed from the data-changing actions —
    * adds are inserts, removes are deletes of the removed files'
    * rows as of the PREVIOUS version. Scale: the log walk is
    * O(#commits) driver metadata; every change file reads as a
    * pruned executor parquet scan through the same partition-value
    * injection as the snapshot path. */
  def tableChanges(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"bad CDF range [$fromVersion,$toVersion]")
    val snap = snapshot(spark, table, Some(toVersion)) // runs gates
    val meta = snap.meta
    require(meta.configuration.get("delta.enableChangeDataFeed")
      .contains("true"),
      s"change data feed not enabled on $table")
    val schema = DataType.fromJson(meta.schemaString)
      .asInstanceOf[StructType]
    val ct = StructField("_change_type", StringType,
      nullable = false)
    val metaCt = meta.copy(
      schemaString = StructType(schema.fields :+ ct).json)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(schema.fields :+ ct))
    // ONE incremental path→AddFile map walked across the whole
    // range (prior state for derived deletes); a per-version
    // snapshot() replay here would make the scan O(V²) in commit
    // count on long-history tables
    val prior = scala.collection.mutable.LinkedHashMap[String,
      AddFile]()
    if (fromVersion > 0)
      snapshot(spark, table, Some(fromVersion - 1)).files
        .foreach(a => prior(a.path) = a)
    val parts = (fromVersion to toVersion).map { v =>
      val c = parseCommit(readText(spark,
        s"${logDir(table)}/${commitFile(v)}")).getOrElse(
        sys.error(s"malformed commit $v in $table"))
      val df =
        if (c.cdcs.nonEmpty)
          readFiles(spark, table, metaCt, c.cdcs)
        else {
          val ins = c.adds.filter(_.dataChange)
          // a deletion-vector add REWRITES rows of an existing
          // file in place — deriving it as plain inserts would
          // report surviving rows as new and say nothing about
          // the deletions; with CDF enabled such commits must
          // carry cdc actions, so their absence is malformed
          require(ins.forall(_.deletionVector.isEmpty),
            s"CDF: commit $v adds deletion-vector files without " +
              "cdc actions — refusing to derive a wrong feed")
          val insDf =
            if (ins.isEmpty) None
            else Some(readFiles(spark, table, meta, ins)
              .withColumn("_change_type", lit("insert")))
          val delDf =
            if (c.removesDataChange.isEmpty) None
            else {
              // the removed files' rows as of the prior version
              val gone = c.removesDataChange.map(p =>
                prior.getOrElse(p, sys.error(
                  s"CDF: commit $v removes unknown file $p")))
              Some(readFiles(spark, table, meta, gone)
                .withColumn("_change_type", lit("delete")))
            }
          (insDf.toSeq ++ delDf.toSeq)
            .reduceOption(_ unionByName _).getOrElse(empty)
        }
      c.adds.foreach(a => prior(a.path) = a)
      c.removes.foreach(p => prior.remove(p): Unit)
      df.withColumn("_commit_version", lit(v))
    }
    parts.reduce(_ unionByName _)
  }

  /** Load one descriptor's bitmap — inline Z85, a UUID-named file
    * under the table, or an absolute path. */
  def loadDeletionVector(spark: SparkSession, table: String,
      dv: DvDescriptor): Roaring.Bitmap64 = dv.storageType match {
    case "i" =>
      // Z85 works in 4-byte groups, so the encoder zero-pads;
      // sizeInBytes is the TRUE length
      val padded = Roaring.z85Decode(dv.pathOrInlineDv).getOrElse(
        sys.error("inline deletion vector is not valid z85"))
      require(padded.length >= dv.sizeInBytes &&
        padded.length - dv.sizeInBytes < 4 &&
        padded.drop(dv.sizeInBytes).forall(_ == 0),
        "inline deletion vector size mismatch")
      Roaring.parseArray(padded.take(dv.sizeInBytes)).getOrElse(
        sys.error("inline deletion vector is not a roaring array"))
    case "u" | "p" =>
      val path =
        if (dv.storageType == "p") dv.pathOrInlineDv
        else {
          // [randomPrefix/]z85(UUID) — the LAST 20 chars encode the
          // 16 UUID bytes; anything before is a directory prefix
          val s = dv.pathOrInlineDv
          require(s.length >= 20, "malformed uuid dv path")
          val prefix = s.dropRight(20)
          val uuidBytes = Roaring.z85Decode(s.takeRight(20))
            .getOrElse(sys.error("dv uuid is not valid z85"))
          val bb = java.nio.ByteBuffer.wrap(uuidBytes)
          val uuid = new java.util.UUID(bb.getLong, bb.getLong)
          val dir = if (prefix.isEmpty) table
            else s"$table/${prefix.stripSuffix("/")}"
          s"$dir/deletion_vector_$uuid.bin"
        }
      val (f, p) = fs(spark, path)
      val in = f.open(p)
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
      Roaring.readDvFile(bytes,
        dv.offset.getOrElse(sys.error("dv file without offset")),
        dv.sizeInBytes).getOrElse(
        sys.error(s"deletion vector at $path failed to verify"))
    case other => sys.error(s"unknown dv storage type $other")
  }

  /** A file SUBSET of a table as a DataFrame — the scan-building
    * half of [[read]], shared with [[tableChanges]]:
    * one pruned scan per partition-value combination, partition
    * columns injected as typed literals (protocol: values live in
    * the log, not the files). Reader-version-3 features applied
    * here: column-mapping mode "name" reads the files under their
    * PHYSICAL names and renames to logical, and files carrying
    * deletion vectors are scanned with `_metadata.row_index` and
    * masked through the (broadcast) decoded bitmaps — rows never
    * resurrect, and DV-less files keep the plain pruned scan. */
  def readFiles(spark: SparkSession, table: String, meta: Meta,
      files: Seq[AddFile]): DataFrame = {
    val schema = DataType.fromJson(meta.schemaString)
      .asInstanceOf[StructType]
    val cmMode = meta.configuration
      .getOrElse("delta.columnMapping.mode", "none")
    /** logical field name → physical parquet column name (also the
      * key partition values are stored under in mapped tables). */
    def phys(f: StructField): String =
      if (cmMode == "none") f.name
      else {
        require(f.metadata.contains(
          "delta.columnMapping.physicalName"),
          s"column-mapped table but ${f.name} has no physicalName")
        f.metadata.getString("delta.columnMapping.physicalName")
      }
    val partCols = meta.partitionColumns
    val dataFields = schema.fields
      .filterNot(f => partCols.contains(f.name))
    val dataSchemaPhys = cmMode match {
      case "id" =>
        // field-ID matching: the scan schema keeps LOGICAL names
        // but carries parquet.field.id metadata — Spark's reader
        // resolves columns by id, so the files' physical names
        // (which drift across renames) never matter
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
          "true")
        StructType(dataFields.map { f =>
          require(f.metadata.contains("delta.columnMapping.id"),
            s"id-mapped table but ${f.name} has no columnMapping.id")
          StructField(f.name, f.dataType, f.nullable,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id",
                f.metadata.getLong("delta.columnMapping.id"))
              .build())
        })
      case "name" =>
        StructType(dataFields.map(f =>
          StructField(phys(f), f.dataType, f.nullable)))
      case _ =>
        StructType(dataFields.map(f =>
          StructField(f.name, f.dataType, f.nullable)))
    }
    val logicalDataNames = dataFields.map(_.name)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)

    // deletion vectors: decode driver-side (bitmaps are metadata-
    // sized), broadcast path→bitmap for the executor-side mask.
    // Paths normalize scheme-free on both sides (the metadata
    // column renders file:///x, the log holds relative paths).
    def normP(p: String): String = {
      val i = p.indexOf(':')
      val s = if (i > 0 && p.take(i).forall(_.isLetter))
        p.substring(i + 1) else p
      if (s.startsWith("//")) s.replaceFirst("^/+", "/") else s
    }
    val dvByPath: Map[String, Roaring.Bitmap64] =
      files.flatMap(a => a.deletionVector.map(dv =>
        normP(s"$table/${a.path}") ->
          loadDeletionVector(spark, table, dv))).toMap
    val dvB = spark.sparkContext.broadcast(dvByPath)
    val keep = udf((path: String, idx: Long) =>
      !dvB.value.get(normP(path)).exists(_.contains(idx)))

    val groups = files.groupBy(_.partitionValues).toSeq
    groups.map { case (pv, fs0) =>
      val (withDv, plain) = fs0.partition(_.deletionVector.nonEmpty)
      val scans = Seq(
        if (plain.nonEmpty)
          Some(spark.read.schema(dataSchemaPhys)
            .parquet(plain.map(f => s"$table/${f.path}"): _*))
        else None,
        if (withDv.nonEmpty)
          Some(spark.read.schema(dataSchemaPhys)
            .parquet(withDv.map(f => s"$table/${f.path}"): _*)
            .withColumn("__dv_path", col("_metadata.file_path"))
            .withColumn("__dv_idx", col("_metadata.row_index"))
            .filter(keep(col("__dv_path"), col("__dv_idx")))
            .drop("__dv_path", "__dv_idx"))
        else None).flatten
      val base0 = scans.reduce(_ union _)
      // physical → logical rename (column mapping "name" mode)
      val base = logicalDataNames.zip(dataSchemaPhys.fieldNames)
        .foldLeft(base0) { case (df, (log, ph)) =>
          if (log == ph) df else df.withColumnRenamed(ph, log) }
      partCols.foldLeft(base) { (df, c) =>
        val f = schema(c)
        // partition values are keyed by PHYSICAL name in
        // column-mapped tables
        val raw = pv.get(phys(f)).orElse(pv.get(c)).orNull
        df.withColumn(c,
          (if (raw == null) lit(null) else lit(raw))
            .cast(f.dataType))
      }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }.reduce(_ union _)
  }

  // ---------------------------------------------------------------
  // Table creation + checkpointing (the write path)
  // ---------------------------------------------------------------

  /** Create a delta table at `table` from `df`, optionally
    * partitioned: writes the parquet data (one directory level per
    * partition column, hive-style) and commit 0. Returns the add
    * actions for callers composing further commits. */
  def create(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String] = Seq.empty,
      configuration: Map[String, String] = Map.empty)
      : Seq[AddFile] = {
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
     else writer).parquet(table)
    val adds = listDataFiles(spark, table, partitionBy)
    val meta = Meta(java.util.UUID.nameUUIDFromBytes(
      table.getBytes("UTF-8")).toString,
      df.schema.json, partitionBy, configuration)
    commit(spark, table, 0L,
      Seq(protocolJson(Protocol(1, 2)), metaJson(meta)) ++
        adds.map(addJson))
    adds
  }

  /** List hive-style data files under `table` (excluding the log)
    * as add actions with partitionValues parsed from dir names. */
  def listDataFiles(spark: SparkSession, table: String,
      partitionBy: Seq[String]): Seq[AddFile] = {
    val (f, root0) = fs(spark, table)
    val root = f.makeQualified(root0)
    val out = Seq.newBuilder[AddFile]
    def walk(p: org.apache.hadoop.fs.Path,
        pv: Map[String, String]): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          // _change_data holds CDF files, never table data
          if (name != "_delta_log" && name != "_change_data") {
            val kv = name.split("=", 2)
            walk(st.getPath,
              if (kv.length == 2) pv + (kv(0) ->
                java.net.URLDecoder.decode(kv(1), "UTF-8"))
              else pv)
          }
        } else if (name.endsWith(".parquet") && !name.startsWith("_")
          && !name.startsWith(".")) {
          val rel = root.toUri.relativize(
            f.makeQualified(st.getPath).toUri).getPath
          out += AddFile(rel, pv, st.getLen,
            st.getModificationTime, dataChange = true)
        }
      }
    walk(root, Map.empty)
    out.result().sortBy(_.path)
  }

  /** OPTIMIZE-style bin-packing compaction: every partition's live
    * plain files (2+) are rewritten into ONE file and committed as
    * remove+add actions with `dataChange = false` — the protocol's
    * compaction contract, which keeps the rewrite INVISIBLE to the
    * change feed (a tableChanges over the compaction version yields
    * zero rows) while shrinking the file count a 100 TB scan plans
    * over. DV-carrying files are skipped (rewriting them would
    * materialize the deletes) and column-mapped tables reject
    * honestly (data files store physical names). Returns the
    * committed version, or -1 when nothing needed compacting. */
  def compact(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.meta.configuration
      .getOrElse("delta.columnMapping.mode", "none") == "none",
      "compaction of column-mapped tables not supported")
    val schema = DataType.fromJson(snap.meta.schemaString)
      .asInstanceOf[StructType]
    val partCols = snap.meta.partitionColumns
    val dataFields = StructType(schema.fields
      .filterNot(f => partCols.contains(f.name)))
    val groups = snap.files.filter(_.deletionVector.isEmpty)
      .groupBy(_.partitionValues)
      .filter(_._2.length >= 2).toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
    if (groups.isEmpty) return -1L
    val version = snap.version + 1
    val actions = Seq.newBuilder[String]
    groups.zipWithIndex.foreach { case ((pv, fs0), gi) =>
      val dstDir = s"$table/compact-v$version-g$gi"
      spark.read.schema(dataFields)
        .parquet(fs0.map(f => s"$table/${f.path}"): _*)
        .coalesce(1)
        .write.parquet(dstDir)
      val adds = listDataFiles(spark, dstDir, Seq.empty)
        .map(a => a.copy(
          path = s"compact-v$version-g$gi/${a.path}",
          partitionValues = pv, dataChange = false))
      require(adds.length == 1,
        s"compaction wrote ${adds.length} files for group $gi")
      fs0.foreach(f =>
        actions += removeJson(f.path, version, dataChange = false))
      adds.foreach(a => actions += addJson(a))
    }
    commit(spark, table, version, actions.result())
    version
  }

  /** VACUUM: delete data files no retained snapshot references.
    * `retainVersions` = how many trailing versions stay
    * time-travelable (1 = only the latest — the aggressive
    * RETAIN 0 HOURS shape); files referenced by ANY retained
    * snapshot survive, as do deletion-vector blobs and
    * `_change_data` files of retained commits. Travel to a
    * vacuumed version fails LOUDLY at scan time (its files are
    * gone) — the real trade-off vacuum buys its space with.
    * Returns the deleted paths (table-relative). */
  def vacuum(spark: SparkSession, table: String,
      retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, "must retain the latest version")
    val latest = snapshot(spark, table).version
    val from = math.max(0L, latest - retainVersions + 1)
    val (f, root0) = fs(spark, table)
    val root = f.makeQualified(root0)
    val keep = scala.collection.mutable.Set[String]()
    (from to latest).foreach { v =>
      snapshot(spark, table, Some(v)).files.foreach { a =>
        keep += a.path
        a.deletionVector.foreach { dv =>
          if (dv.storageType == "u") {
            // table-relative twin of the loadDeletionVector path
            val s = dv.pathOrInlineDv
            require(s.length >= 20, "malformed uuid dv path")
            val prefix = s.dropRight(20)
            val uuidBytes = Roaring.z85Decode(s.takeRight(20))
              .getOrElse(sys.error("dv uuid is not valid z85"))
            val bb = java.nio.ByteBuffer.wrap(uuidBytes)
            val uuid = new java.util.UUID(bb.getLong, bb.getLong)
            keep += (if (prefix.isEmpty)
              s"deletion_vector_$uuid.bin"
            else s"${prefix.stripSuffix("/")}/" +
              s"deletion_vector_$uuid.bin")
          } else if (dv.storageType == "p") {
            // absolute-path DV: protect it when it lives under the
            // table root (the walk only ever deletes under root, so
            // an outside path needs no keep entry)
            val abs = f.makeQualified(
              new org.apache.hadoop.fs.Path(dv.pathOrInlineDv)).toUri
            val rel = root.toUri.relativize(abs)
            if (!rel.isAbsolute && rel.getPath.nonEmpty &&
              !rel.getPath.startsWith("..")) keep += rel.getPath
          }
        }
      }
      // retained commits' change-data files stay readable
      val c = parseCommit(readText(spark,
        s"${logDir(table)}/${commitFile(v)}")).getOrElse(
        sys.error(s"malformed commit $v in $table"))
      c.cdcs.foreach(keep += _.path)
    }
    val deleted = Seq.newBuilder[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      f.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_delta_log") walk(st.getPath)
        } else if ((name.endsWith(".parquet") ||
          name.endsWith(".bin")) && !name.startsWith("_") &&
          !name.startsWith(".")) {
          val rel = root.toUri.relativize(
            f.makeQualified(st.getPath).toUri).getPath
          if (!keep(rel)) {
            f.delete(st.getPath, false): Unit
            deleted += rel
          }
        }
      }
    walk(root)
    deleted.result().sorted
  }

  /** Build the actions of a DV DELETE commit: for each (file,
    * sorted-distinct row indices) pair, serialize the bitmap and
    * re-add the SAME data file with a deletion-vector descriptor —
    * inline ("i", Z85) when the blob is small, a UUID-named `.bin`
    * under the table ("u") otherwise. This is the protocol's
    * row-level delete: no data file is rewritten. */
  def dvDeleteActions(spark: SparkSession, table: String,
      files: Seq[AddFile], deleted: Map[String, Array[Long]],
      inlineMax: Int = 64): Seq[String] = {
    files.filter(f => deleted.get(f.path).exists(_.nonEmpty))
      .map { f =>
        val idx = deleted(f.path)
        val data = Roaring.serializeArray(idx)
        val dv =
          if (data.length <= inlineMax) {
            val padded = data ++
              new Array[Byte]((4 - data.length % 4) % 4)
            DvDescriptor("i", Roaring.z85Encode(padded), None,
              data.length, idx.length.toLong)
          }
          else {
            val uuid = java.util.UUID.nameUUIDFromBytes(
              s"dv:${f.path}".getBytes("UTF-8"))
            val (blob, off) = Roaring.wrapDvFile(data)
            val (fsys, p) = fs(spark,
              s"$table/deletion_vector_$uuid.bin")
            val out = fsys.create(p, true)
            try out.write(blob) finally out.close()
            val bb = java.nio.ByteBuffer.allocate(16)
            bb.putLong(uuid.getMostSignificantBits)
            bb.putLong(uuid.getLeastSignificantBits)
            DvDescriptor("u", Roaring.z85Encode(bb.array()),
              Some(off), data.length, idx.length.toLong)
          }
        addJson(f.copy(deletionVector = Some(dv)))
      }
  }

  /** Write `rows` as ONE parquet file at `dst` (tmp dir + rename —
    * parquet writers emit part files, checkpoint names are exact). */
  private def writeOneParquet(spark: SparkSession, dst: String,
      rows: Seq[Row], schema: StructType): Unit = {
    val tmp = s"$dst.tmp"
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp)
    val (f, tmpP) = fs(spark, tmp)
    val part = f.listStatus(tmpP).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error("checkpoint write produced no parquet"))
    val dstP = new org.apache.hadoop.fs.Path(dst)
    if (f.exists(dstP)) f.delete(dstP, false)
    f.rename(part, dstP)
    f.delete(tmpP, true)
  }

  // checkpoint parquet schemas + row builders (shared by the
  // classic/multi-part/v2 writers)
  private val dvType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))
  private val addType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues",
      MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("deletionVector", dvType)))
  private val metaType = StructType(Seq(
    StructField("id", StringType),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration",
      MapType(StringType, StringType))))
  private val protoType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType))))
  private val cpType = StructType(Seq(
    StructField("protocol", protoType),
    StructField("metaData", metaType),
    StructField("add", addType)))

  private def dvRow(dv: Option[DvDescriptor]): Row = dv.map { d =>
    Row(d.storageType, d.pathOrInlineDv,
      d.offset.map(Integer.valueOf).orNull,
      d.sizeInBytes, d.cardinality)
  }.orNull
  private def protoRow(p: Protocol): Row =
    Row(p.minReader, p.minWriter,
      if (p.readerFeatures.isEmpty) null else p.readerFeatures)
  private def metaRow(m: Meta): Row =
    Row(m.id, m.schemaString, m.partitionColumns, m.configuration)
  private def addRow(a: AddFile): Row =
    Row(a.path, a.partitionValues, a.size, a.modificationTime,
      a.dataChange, dvRow(a.deletionVector))

  /** Classic single-file checkpoint at `version` + the
    * `_last_checkpoint` pointer. */
  def writeCheckpoint(spark: SparkSession, table: String,
      version: Long): Unit = {
    val snap = snapshot(spark, table, Some(version))
    val rows =
      Row(protoRow(snap.protocol), null, null) +:
      Row(null, metaRow(snap.meta), null) +:
      snap.files.map(a => Row(null, null, addRow(a)))
    writeOneParquet(spark,
      s"${logDir(table)}/${checkpointFile(version)}", rows, cpType)
    writeText(spark, s"${logDir(table)}/_last_checkpoint",
      s"""{"version":$version,"size":${rows.length}}""")
  }

  /** Classic MULTI-PART checkpoint at `version`
    * (`<v>.checkpoint.<k>.<n>.parquet`, 1-based parts): protocol +
    * metaData land in part 1, add actions round-robin across all
    * parts — the union of the parts is the checkpoint, which is all
    * the protocol requires. */
  def writeCheckpointMultipart(spark: SparkSession, table: String,
      version: Long, parts: Int): Unit = {
    require(parts >= 1, "parts must be >= 1")
    val snap = snapshot(spark, table, Some(version))
    val grouped = snap.files.zipWithIndex
      .groupBy(_._2 % parts).view.mapValues(_.map(_._1)).toMap
    (1 to parts).foreach { k =>
      val adds = grouped.getOrElse(k - 1, Seq.empty)
        .map(a => Row(null, null, addRow(a)))
      val rows = if (k == 1)
        Row(protoRow(snap.protocol), null, null) +:
          Row(null, metaRow(snap.meta), null) +: adds
      else adds
      writeOneParquet(spark,
        s"${logDir(table)}/${multipartFile(version, k, parts)}",
        rows, cpType)
    }
    writeText(spark, s"${logDir(table)}/_last_checkpoint",
      s"""{"version":$version,"size":${snap.files.length + 2},""" +
        s""""parts":$parts}""")
  }

  /** V2 checkpoint at `version` (reader feature `v2Checkpoint`):
    * a UUID-named manifest (`<v>.checkpoint.<uuid>.parquet`, or
    * `.json` when `jsonManifest`) holding protocol + metaData + the
    * self-identifying `checkpointMetadata`, with the add actions
    * split round-robin into `sidecarParts` parquet files under
    * `_delta_log/_sidecars/` referenced by `sidecar` actions
    * (`sidecarParts = 0` inlines the adds in the manifest — legal
    * for small tables). Requires the table's protocol to already
    * carry the `v2Checkpoint` reader feature — writing one for a
    * v1-protocol table would strand readers that trust the
    * feature list. */
  def writeCheckpointV2(spark: SparkSession, table: String,
      version: Long, sidecarParts: Int = 2,
      jsonManifest: Boolean = false): Unit = {
    val snap = snapshot(spark, table, Some(version))
    require(snap.protocol.minReader >= 3 &&
      snap.protocol.readerFeatures.contains("v2Checkpoint"),
      "table protocol does not carry the v2Checkpoint feature")
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"v2cp:$table:$version".getBytes("UTF-8"))

    // sidecars first (a manifest must never reference a file that
    // is not yet durable)
    val sidecarActions: Seq[(String, Long)] =
      if (sidecarParts <= 0) Seq.empty
      else {
        val grouped = snap.files.zipWithIndex
          .groupBy(_._2 % sidecarParts).view.mapValues(_.map(_._1))
          .toMap
        (0 until sidecarParts).flatMap { k =>
          val adds = grouped.getOrElse(k, Seq.empty)
          if (adds.isEmpty && k > 0) None
          else {
            val scName = java.util.UUID.nameUUIDFromBytes(
              s"v2sc:$table:$version:$k".getBytes("UTF-8"))
              .toString + ".parquet"
            val dst = s"${logDir(table)}/_sidecars/$scName"
            writeOneParquet(spark, dst,
              adds.map(a => Row(addRow(a))),
              StructType(Seq(StructField("add", addType))))
            val (f, p) = fs(spark, dst)
            Some((scName, f.getFileStatus(p).getLen))
          }
        }
      }

    val manifestName =
      f"$version%020d.checkpoint.$uuid." +
        (if (jsonManifest) "json" else "parquet")
    if (jsonManifest) {
      val lines = Seq(protocolJson(snap.protocol),
        metaJson(snap.meta),
        s"""{"checkpointMetadata":{"version":$version}}""") ++
        sidecarActions.map { case (n, sz) =>
          s"""{"sidecar":{"path":${q(n)},"sizeInBytes":$sz,""" +
            s""""modificationTime":0}}""" } ++
        (if (sidecarParts <= 0) snap.files.map(addJson)
         else Seq.empty)
      writeText(spark, s"${logDir(table)}/$manifestName",
        lines.mkString("", "\n", "\n"))
    } else {
      val cpMetaType = StructType(Seq(
        StructField("version", LongType)))
      val sidecarType = StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))
      val v2Type = StructType(Seq(
        StructField("protocol", protoType),
        StructField("metaData", metaType),
        StructField("checkpointMetadata", cpMetaType),
        StructField("sidecar", sidecarType),
        StructField("add", addType)))
      val rows =
        Seq(Row(protoRow(snap.protocol), null, null, null, null),
          Row(null, metaRow(snap.meta), null, null, null),
          Row(null, null, Row(version), null, null)) ++
        sidecarActions.map { case (n, sz) =>
          Row(null, null, null, Row(n, sz, 0L), null) } ++
        (if (sidecarParts <= 0)
           snap.files.map(a => Row(null, null, null, null, addRow(a)))
         else Seq.empty)
      writeOneParquet(spark, s"${logDir(table)}/$manifestName",
        rows, v2Type)
    }
    writeText(spark, s"${logDir(table)}/_last_checkpoint",
      s"""{"version":$version}""")
  }
}
