package graft.fits

import java.nio.ByteBuffer
import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** FITS BINTABLE DataSource V2 (SURVEY §2 a7, §4.3).
  *
  * Spark-first design points:
  *  - Schema comes from the extension HEADER (driver-side, one footer-like
  *    read) — never inferred from data, matching the FITS model (§1.1).
  *  - Fixed record width ⇒ EXACT row-range splits: `planInputPartitions`
  *    cuts [0, NAXIS2) into ranges sized by `maxSplitBytes`, so a single
  *    100 GB BINTABLE parallelizes across executors with no scan overlap —
  *    the property parquet gets from row groups, FITS gets for free from
  *    NAXIS1.
  *  - Column pruning is honored at the byte level: only requested columns
  *    are decoded (per-column fixed offsets), the rest of each record is
  *    skipped — SupportsPushDownRequiredColumns.
  *  - Conversion semantics (§1.2): big-endian decode, TSCAL/TZERO scaling,
  *    unsigned-idiom widening, TNULL→null, float NaN/Inf→null, trailing
  *    blank trim — i.e. the fits2db B-group applied at the source.
  *  - Columnar where the records allow it: a plain or gzip BINTABLE scan
  *    whose required columns are all scalar L/B/I/J/K/E/D or fixed `nA`
  *    reads blocks of whole records and decodes each column into a column
  *    vector (`FitsColumnarPartitionReader`); Spark's codegen consumes the
  *    batches through `ColumnarToRow`. ASCII and tiled tables, P/Q heap
  *    columns, `repeat > 1` arrays, X/C/M columns, the unsigned-idiom K
  *    and micro-batch streams decode on rows (`FitsPartitionReader`).
  *    `FitsScan` decides once per scan and its description (`explain()`)
  *    says `columnar=true` or names what kept the scan on rows.
  *
  * Usage: `spark.read.format("fits").option("extnum", 0).load(path)`.
  */
class FitsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fits"

  private def extnum(options: CaseInsensitiveStringMap): Int =
    Option(options.get("extnum")).map(_.toInt).getOrElse(0)

  /** Multi-file loads (`load(p1, p2, …)` / the CLI's expanded globs) are
    * one scan over same-schema files — the reference's N-file append.
    */
  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    // Spark serializes multi-path loads as a JSON array — decode it as
    // JSON (jackson ships with Spark), not by splitting on ',' which
    // would shred any path containing a comma
    val fromPaths = Option(options.get("paths")).map { js =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      try mapper.readValue(js, classOf[Array[String]]).toSeq
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"FITS source: cannot parse paths option '$js' as a JSON array", e)
      }
    }.getOrElse(Nil)
    val all = Option(options.get("path")).toSeq ++ fromPaths
    if (all.isEmpty) throw new IllegalArgumentException(
      "FITS source requires at least one path")
    all
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FitsTable.readSpec(FitsTable.firstMatching(paths(options)), extnum(options))
      .spec.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new FitsTable(paths(opts), extnum(opts))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object FitsTable {

  /** Expands ONE pattern to concrete files, sorted for a stable
    * scan/offset order. A literal existing file short-circuits glob
    * interpretation, so names containing glob metacharacters
    * (`obs[1].fits`) load as-is instead of being read as character
    * classes.
    */
  def expandOne(pattern: String): Seq[String] = {
    val path = new Path(pattern)
    val fs = path.getFileSystem(driverHadoopConf())
    val literal =
      try { val st = fs.getFileStatus(path); if (st.isFile) Some(st) else None }
      catch { case _: java.io.FileNotFoundException => None }
    literal match {
      case Some(st) => Seq(st.getPath.toString)
      case None =>
        Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Nil)
          .filter(_.isFile).map(_.getPath.toString).sorted
    }
  }

  /** Per-pattern expansion concatenated in pattern order. Deliberately NOT
    * de-duplicated: `load(p, p)` scans the file twice — the reference's
    * N-file append semantics, where each listed input contributes once per
    * mention. (The streaming offset log de-dupes on its side, where
    * seen-set semantics are the contract.)
    */
  def expandGlobs(patterns: Seq[String]): Seq[String] =
    patterns.flatMap(expandOne)

  /** First concrete file of the pattern list (schema authority); clear
    * error when nothing matches yet — FITS headers carry the schema, so
    * an empty source directory cannot define a stream or a scan.
    */
  def firstMatching(patterns: Seq[String]): String =
    expandGlobs(patterns).headOption.getOrElse(throw new IllegalArgumentException(
      s"FITS source: no files match ${patterns.mkString(", ")} " +
        "(at least one must exist to define the schema)"))
  // DSv2 calls inferSchema and then getTable, each needing the header —
  // memoize ONE entry per (path, extnum), validated by a (size, mtime)
  // fingerprint: keying on path alone served a stale spec after an
  // in-place overwrite in the same session (splits planned from the old
  // nRows/dataStart ⇒ wrong offsets or a mid-scan EOF), while keying on
  // (path, …, size, mtime) accumulated every historical version in a
  // long-lived driver. size+mtime is the same freshness fingerprint
  // Spark's file sources use; a same-size rewrite inside one mtime tick
  // is below its resolution for them and for us.
  private val specCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), ((Long, Long), FitsSpecWithOffset)]()

  /** Gzipped members are read through a decompressing stream; offsets in
    * the spec are positions in the DECOMPRESSED byte stream (locateTable
    * counts logical FITS blocks, so this falls out for free).
    */
  def isGzip(path: String): Boolean = path.endsWith(".gz")

  /** Driver-side header read: spec + absolute data offset. */
  def readSpec(path: String, extnum: Int): FitsSpecWithOffset = {
    val p = new Path(path)
    val fs = p.getFileSystem(driverHadoopConf())
    val st = fs.getFileStatus(p)
    val fp = (st.getLen, st.getModificationTime)
    specCache.compute((path, extnum), { (_, old) =>
      if (old != null && old._1 == fp) old
      else {
        val raw = fs.open(p)
        try {
          // header walk is strictly sequential (readFully + skipBytes), so a
          // gzip stream serves it as-is — no random access until row decode
          val in: java.io.DataInput =
            if (isGzip(path))
              new java.io.DataInputStream(new java.util.zip.GZIPInputStream(raw))
            else raw
          val (cards, dataStart) = FitsFormat.locateTable(in, extnum)
          (fp, FitsSpecWithOffset(FitsFormat.anySpec(cards), dataStart))
        } finally raw.close()
      }
    })._2
  }

  /** The session's Hadoop conf (spark.hadoop.*, core-site) — a bare
    * `new Configuration()` would miss credentials/filesystem settings.
    */
  def driverHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
}

final case class FitsSpecWithOffset(spec: FitsFormat.HduSpec, dataStart: Long)

class FitsTable(paths: Seq[String], extnum: Int) extends Table with SupportsRead {
  // Batch file set is FROZEN here (table construction = load() time), the
  // way Spark's file sources freeze their InMemoryFileIndex: every action
  // on the resulting DataFrame — both scan nodes of a self-join included —
  // sees the same snapshot even while new files land. The micro-batch
  // stream ignores the snapshot and re-expands per trigger by design.
  private lazy val snapshot: Seq[String] = FitsTable.expandGlobs(paths)
  // schema authority = first matching file; every other file must match
  // the schema at plan time
  private lazy val specWithOffset =
    FitsTable.readSpec(snapshot.headOption.getOrElse(
      FitsTable.firstMatching(paths)), extnum)

  override def name(): String =
    if (paths.length == 1) s"fits:${paths.head}#$extnum"
    else s"fits:${paths.head}(+${paths.length - 1})#$extnum"
  override def schema(): StructType = specWithOffset.spec.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FitsScanBuilder(paths, snapshot, extnum, specWithOffset,
      Option(options.get("rowspersplit")).map(_.toLong))
}

class FitsScanBuilder(paths: Seq[String], snapshot: Seq[String], extnum: Int,
    swo: FitsSpecWithOffset, rowsPerSplit: Option[Long])
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = swo.spec.schema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Prune at COLUMN granularity only: Catalyst may hand us nested-pruned
    // struct types (complex C/M columns), but the reader always emits the
    // full (re, im) struct — reporting the pruned shape while emitting the
    // full row would silently misalign field ordinals. Look each requested
    // name up in the declared spec and keep its full type.
    val declared = swo.spec.schema
    required = StructType(requiredSchema.fieldNames.flatMap(n =>
      declared.fields.find(_.name == n)).toIndexedSeq)
  }

  override def build(): Scan =
    new FitsScan(paths, snapshot, extnum, swo, required, rowsPerSplit)
}

object FitsScan {
  /** Row-range splits per file; each split carries its file's spec (specs
    * may differ in widths — e.g. 16A vs 25A — as long as the Spark schemas
    * agree, which is required here against `firstSchema`). Shared by the
    * batch plan and the micro-batch stream's per-trigger plan.
    */
  def splitsFor(files: Seq[String], extnum: Int,
      firstSchema: StructType, rowsPerSplitOpt: Option[Long]): Array[InputPartition] = {
    val targetBytes = 128L * 1024 * 1024 // align with files.maxPartitionBytes default
    files.toArray.flatMap { p =>
      val pswo = FitsTable.readSpec(p, extnum)
      require(pswo.spec.schema == firstSchema,
        s"FITS multi-file load: '$p' decodes to ${pswo.spec.schema.simpleString}, " +
          s"but the source schema is ${firstSchema.simpleString}")
      val spec = pswo.spec
      // gzip is not splittable (same rule as every gzip source in Spark):
      // one partition per .gz member, however many rows it holds —
      // parallelism across FILES, never within one
      spec match {
        case ts: FitsFormat.TiledTableSpec =>
          // tiled tables split on TILE boundaries (each tile decompresses
          // independently): rowStart/rowEnd are TILE indices here, and the
          // reader expands each stored row to its tileLen logical rows.
          // rowsPerSplitOpt is interpreted in LOGICAL rows, rounded up to
          // whole tiles, so callers can force multi-partition plans.
          val tilesPerSplit =
            if (FitsTable.isGzip(p)) math.max(1L, ts.nTiles)
            else {
              val wanted = rowsPerSplitOpt
                .map(r => (r + ts.tileLen - 1) / ts.tileLen)
                .getOrElse(targetBytes /
                  math.max(1L, ts.tileLen * math.max(1, ts.zRowBytes)))
              math.max(1L, wanted)
            }
          Iterator.iterate(0L)(_ + tilesPerSplit)
            .takeWhile(_ < ts.nTiles)
            .map(start => FitsInputPartition(p, pswo, start,
              math.min(start + tilesPerSplit, ts.nTiles)): InputPartition)
            .toArray
        case _ =>
          val rowsPerSplit =
            if (FitsTable.isGzip(p)) math.max(1L, spec.nRows)
            else rowsPerSplitOpt.getOrElse(
              math.max(1L, targetBytes / math.max(1, spec.rowBytes)))
          Iterator.iterate(0L)(_ + rowsPerSplit)
            .takeWhile(_ < spec.nRows)
            .map(start => FitsInputPartition(p, pswo, start,
              math.min(start + rowsPerSplit, spec.nRows)): InputPartition)
            .toArray
      }
    }
  }

  /** Hadoop conf entries, shipped to executors (Configuration itself is
    * not serializable).
    */
  def confProps(): Map[String, String] = {
    val c = FitsTable.driverHadoopConf()
    val it = c.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }
}

class FitsScan(patterns: Seq[String], snapshot: Seq[String], extnum: Int,
    swo: FitsSpecWithOffset, required: StructType,
    rowsPerSplitOpt: Option[Long] = None)
  extends Scan with Batch {

  // set once this scan has been handed to a micro-batch stream, whose
  // per-trigger partitions always read on rows
  @volatile private var streamed = false

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    streamed = true
    new FitsMicroBatchStream(patterns, extnum, swo.spec.schema, required,
      rowsPerSplitOpt, checkpointLocation)
  }
  /** Names the read path, so `explain()` and plan dumps show it. */
  override def description(): String = {
    val path =
      if (streamed) "columnar=false (micro-batch stream)"
      else rowPathCause.fold("columnar=true")(why => s"columnar=false ($why)")
    s"FitsScan(${patterns.mkString(",")}, cols=${required.fieldNames.mkString(",")}, $path)"
  }

  // planned once, so the read-path decision and the partitions Spark runs
  // are the same set
  private lazy val partitions: Array[InputPartition] = {
    // plan over the table's FROZEN snapshot — no re-listing per execution
    val splits = FitsScan.splitsFor(snapshot, extnum,
      swo.spec.schema, rowsPerSplitOpt)
    // 0-row fallback must name a CONCRETE file (patterns may be globs) —
    // the reader opens it even for an empty row range
    if (splits.isEmpty)
      Array(FitsInputPartition(snapshot.headOption.getOrElse(
        FitsTable.firstMatching(patterns)), swo, 0, 0))
    else splits
  }

  /** None when every partition decodes columnar; otherwise the first
    * column or file flavour that keeps the whole scan on rows.
    */
  private lazy val rowPathCause: Option[String] = FitsColumnar.rowPathCause(
    required, partitions.toSeq.map(_.asInstanceOf[FitsInputPartition]))

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new FitsReaderFactory(required, FitsScan.confProps(), rowPathCause.isEmpty)
}

/** Micro-batch FITS stream — the nightly-drop ingest shape: files land in
  * a directory (or any glob set) and each trigger processes exactly the
  * files not seen before.
  *
  * Offset design (the FileStreamSource pattern): the offset in Spark's
  * WAL is just a batch COUNT; the files themselves go to an append-only
  * seen-file log under `<checkpoint>/fits-seen/<batchIdx>` (one entry per
  * trigger that found new files, atomic tmp+rename write). Consequences:
  *  - offsets stay O(1) in the WAL instead of re-serializing the full
  *    cumulative file list every trigger (no quadratic checkpoint);
  *  - the seen-set is persistent and MONOTONE: a processed file that
  *    transiently vanishes from one glob listing (eventual-consistency
  *    hiccup, replace-by-rename) and reappears later is still in the log,
  *    so it is never re-ingested as "fresh";
  *  - restart replay is deterministic — `planInputPartitions(a, b)` reads
  *    logged batches [a, b), never a live listing.
  * Per-batch planning reuses the batch reader's per-file row-range splits,
  * so a single huge new BINTABLE still parallelizes inside one micro-batch.
  */
class FitsMicroBatchStream(patterns: Seq[String], extnum: Int,
    firstSchema: StructType, required: StructType,
    rowsPerSplitOpt: Option[Long], checkpointLocation: String)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class LogOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }

  private val logDir = new Path(checkpointLocation, "fits-seen")
  private val fs = logDir.getFileSystem(FitsTable.driverHadoopConf())

  // in-memory mirror of the log: batches(i) = files first seen at entry i.
  // Loaded once at construction (the restart path); latestOffset appends.
  private val batches = scala.collection.mutable.ArrayBuffer[Seq[String]]()
  private val seen = scala.collection.mutable.HashSet[String]()
  locally {
    if (fs.exists(logDir)) {
      Iterator.from(0).map(i => new Path(logDir, i.toString))
        .takeWhile(fs.exists).foreach { p =>
          val files = readLogEntry(p)
          batches += files
          seen ++= files
        }
    } else fs.mkdirs(logDir)
  }

  private def readLogEntry(p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Atomic append of entry `i`; if a crashed previous run already wrote
    * it (log write landed, WAL commit did not), adopt the existing entry
    * so replay stays deterministic.
    */
  private def writeLogEntry(i: Int, files: Seq[String]): Seq[String] = {
    val target = new Path(logDir, i.toString)
    if (fs.exists(target)) return readLogEntry(target)
    val tmp = new Path(logDir, s".$i.tmp")
    val out = fs.create(tmp, true)
    try out.write((files.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      require(fs.exists(target), s"cannot write FITS seen-log entry $target")
      return readLogEntry(target)
    }
    files
  }

  override def initialOffset(): Offset = LogOffset(0)

  override def latestOffset(): Offset = {
    val fresh = FitsTable.expandGlobs(patterns).distinct.filterNot(seen)
    if (fresh.nonEmpty) {
      val adopted = writeLogEntry(batches.length, fresh)
      batches += adopted
      seen ++= adopted
    }
    LogOffset(batches.length)
  }

  override def deserializeOffset(json: String): Offset =
    LogOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[LogOffset].n.toInt
    val b = end.asInstanceOf[LogOffset].n.toInt
    val files = (a until b).flatMap { i =>
      if (i < batches.length) batches(i)
      else readLogEntry(new Path(logDir, i.toString))
    }
    FitsScan.splitsFor(files, extnum, firstSchema, rowsPerSplitOpt)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FitsReaderFactory(required, FitsScan.confProps())

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class FitsInputPartition(path: String, swo: FitsSpecWithOffset,
    rowStart: Long, rowEnd: Long) extends InputPartition

/** `columnar` is decided once per scan (`FitsScan.rowPathCause`), so every
  * partition of one scan answers `supportColumnarReads` the same way —
  * Spark rejects scans that mix row and columnar partitions.
  */
class FitsReaderFactory(required: StructType, confProps: Map[String, String],
    columnar: Boolean = false)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FitsInputPartition]
    new FitsPartitionReader(p.path, p.swo, required, p, confProps)
  }
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] =
    new FitsColumnarPartitionReader(required,
      partition.asInstanceOf[FitsInputPartition], confProps)
}

class FitsPartitionReader(path: String, swo: FitsSpecWithOffset,
    required: StructType, part: FitsInputPartition,
    confProps: Map[String, String] = Map.empty)
  extends PartitionReader[InternalRow] {

  private val spec = swo.spec
  // Binary vs ASCII table flavor; exactly one is defined.
  private val binSpec: Option[FitsFormat.TableSpec] = spec match {
    case b: FitsFormat.TableSpec => Some(b); case _ => None
  }
  private val asciiSpec: Option[FitsFormat.AsciiTableSpec] = spec match {
    case a: FitsFormat.AsciiTableSpec => Some(a); case _ => None
  }
  // Tiled (ZTABLE=T) flavor: part.rowStart/rowEnd are TILE indices, and
  // each stored record expands to tileLen logical rows (see splitsFor).
  private val tiledSpec: Option[FitsFormat.TiledTableSpec] = spec match {
    case t: FitsFormat.TiledTableSpec => Some(t); case _ => None
  }
  private val colNames: Seq[String] = binSpec.map(_.cols.map(_.name))
    .orElse(tiledSpec.map(_.cols.map(_.name)))
    .getOrElse(asciiSpec.get.cols.map(_.name))
  // Indices (into the full column list) of the requested columns, in
  // requested order — only these are decoded.
  private val colIdx: Array[Int] =
    required.fieldNames.map(n => colNames.indexWhere(_ == n))

  private val src: FitsByteSrc = FitsByteSrc.open(path,
    swo.dataStart + part.rowStart * spec.rowBytes, confProps)
  private lazy val heapStart = swo.dataStart +
    binSpec.map(_.theap).orElse(tiledSpec.map(_.theap)).get

  private val rowBuf = new Array[Byte](spec.rowBytes)
  private val buf = ByteBuffer.wrap(rowBuf) // big-endian per FITS
  private var row = part.rowStart
  private var current: InternalRow = _

  override def next(): Boolean = tiledSpec match {
    case Some(ts) => nextTiled(ts)
    case None =>
      if (row >= part.rowEnd) return false
      src.readFully(rowBuf, 0, rowBuf.length)
      current = decode()
      row += 1
      true
  }

  // ------------------------------------------------------------- tiled path

  private var tileRowIdx = 0
  private var tileRowCount = 0
  /** Decoded values of the CURRENT tile, one array per required column —
    * column pruning means unrequested columns are never decompressed.
    */
  private var tileVals: Array[Array[Any]] = _

  private def nextTiled(ts: FitsFormat.TiledTableSpec): Boolean = {
    while (tileVals == null || tileRowIdx >= tileRowCount) {
      if (row >= part.rowEnd) return false // row = tile cursor here
      loadTile(ts, row)
      row += 1
    }
    val vals = new Array[Any](colIdx.length)
    var k = 0
    while (k < colIdx.length) { vals(k) = tileVals(k)(tileRowIdx); k += 1 }
    current = new GenericInternalRow(vals)
    tileRowIdx += 1
    true
  }

  private def loadTile(ts: FitsFormat.TiledTableSpec, tile: Long): Unit = {
    src.readFully(rowBuf, 0, rowBuf.length) // this tile's stored record: one 1PB per column
    val inTile = ts.rowsInTile(tile)
    tileRowCount = inTile
    tileRowIdx = 0
    tileVals = new Array[Array[Any]](colIdx.length)
    var k = 0
    while (k < colIdx.length) {
      val ci = colIdx(k)
      val c = ts.cols(ci)
      val nbytes = buf.getInt(ci * 8)
      val off = buf.getInt(ci * 8 + 4)
      require(nbytes >= 0 && off >= 0,
        s"tiled cell descriptor out of range in ${c.name}: ($nbytes, $off)")
      val out = new Array[Any](inTile)
      if (c.repeat == 0) {
        // zero-repeat ('0E') column: the cell stores no data; the value is
        // NULL per row — same rule as decodeBin's repeat==0 branch, which
        // would otherwise diverge between plain and tiled bintables. Skip
        // the codec too: there is nothing to decompress.
        tileVals(k) = out
        k += 1
      } else {
      val blob = new Array[Byte](nbytes)
      if (nbytes > 0) src.readAt(heapStart + off, blob, 0, nbytes)
      val raw = TileCodec.decodeCell(ts.zctyp(ci), blob,
        inTile * c.repeat, c.elemBytes)
      require(raw.length == inTile * c.repeat * c.elemBytes,
        s"tile $tile column ${c.name}: decompressed to ${raw.length} bytes, " +
          s"expected ${inTile * c.repeat * c.elemBytes}")
      if (c.code == 'A') {
        var i = 0
        while (i < inTile) {
          val s = new String(raw, i * c.repeat, c.repeat,
            java.nio.charset.StandardCharsets.US_ASCII)
          out(i) = UTF8String.fromString(FitsFormat.trimTrailing(s))
          i += 1
        }
      } else {
        val bb = ByteBuffer.wrap(raw)
        var i = 0
        while (i < inTile) {
          val v = FitsFormat.decodeElem(bb, i * c.elemBytes, c)
          out(i) = if (c.hasScaling) FitsFormat.applyScale(v, c) else v
          i += 1
        }
      }
      tileVals(k) = out
      k += 1
      }
    }
  }

  private def decode(): InternalRow = binSpec match {
    case Some(b) => decodeBin(b)
    case None => decodeAscii(asciiSpec.get)
  }

  /** ASCII TABLE record: fixed character fields, parsed per TFORM/TBCOL. */
  private def decodeAscii(a: FitsFormat.AsciiTableSpec): InternalRow = {
    val rowChars = new String(rowBuf, java.nio.charset.StandardCharsets.US_ASCII)
    val values = new Array[Any](colIdx.length)
    var k = 0
    while (k < colIdx.length) {
      values(k) = FitsFormat.decodeAsciiField(rowChars, a.cols(colIdx(k))) match {
        case s: String => UTF8String.fromString(s)
        case v => v
      }
      k += 1
    }
    new GenericInternalRow(values)
  }

  private def decodeBin(spec: FitsFormat.TableSpec): InternalRow = {
    val values = new Array[Any](colIdx.length)
    var k = 0
    while (k < colIdx.length) {
      val ci = colIdx(k)
      val c = spec.cols(ci)
      val base = spec.offsets(ci)
      values(k) = if (c.varDesc.isDefined) readVarCell(c, base) else c.code match {
        case 'A' =>
          val s = new String(rowBuf, base, c.repeat, java.nio.charset.StandardCharsets.US_ASCII)
          UTF8String.fromString(FitsFormat.trimTrailing(s)) // trailing-blank trim
        case 'X' =>
          java.util.Arrays.copyOfRange(rowBuf, base, base + c.byteWidth)
        // zero-repeat numeric columns ('0E' — legal per FITS 4.0 §7.3.1)
        // occupy no record bytes: the scalar branch below would read the
        // NEXT column's bytes at the shared offset and return them
        // reinterpreted — the cell has no data, so the value is NULL
        case _ if c.repeat == 0 => null
        case _ if c.repeat > 1 =>
          val arr = new Array[Any](c.repeat)
          var i = 0
          while (i < c.repeat) {
            val raw = FitsFormat.decodeElem(buf, base + i * c.elemBytes, c)
            arr(i) = if (c.hasScaling) FitsFormat.applyScale(raw, c) else raw
            i += 1
          }
          c.tdim match {
            case Some(dims) if dims.length >= 2 => nest(arr, dims)
            case _ => new GenericArrayData(arr)
          }
        case _ =>
          val raw = FitsFormat.decodeElem(buf, base, c)
          if (c.hasScaling) FitsFormat.applyScale(raw, c) else raw
      }
      k += 1
    }
    new GenericInternalRow(values)
  }

  /** TDIM re-nesting: FITS cells are column-major flat (first axis varies
    * fastest), so dims (d1,…,dn) become n nested arrays with dn outermost.
    */
  private def nest(flat: Array[Any], dims: Seq[Int]): GenericArrayData =
    if (dims.length == 1) new GenericArrayData(flat)
    else {
      val outerN = dims.last
      val chunk = flat.length / outerN
      new GenericArrayData((0 until outerN).map(o =>
        nest(flat.slice(o * chunk, (o + 1) * chunk), dims.init): Any).toArray)
    }

  /** Variable-length cell: (count, offset) descriptor in the record, data
    * in the heap (FITS 4.0 §7.3.5).
    */
  private def readVarCell(c: FitsFormat.ColSpec, base: Int): Any = {
    val (cnt, off) = c.varDesc.get match {
      case 'P' => (buf.getInt(base).toLong, buf.getInt(base + 4).toLong)
      case _ => (buf.getLong(base), buf.getLong(base + 8))
    }
    val nBytesL =
      if (c.code == 'X') (cnt + 7) / 8 // var-length bit array: cnt BITS
      else cnt * c.elemBytes
    // off >= 0 matches the tiled reader's descriptor guard: a corrupt or
    // truncated file with a negative heap offset would otherwise
    // positioned-read header/record bytes as cell data — silently wrong
    // values instead of a loud descriptor error
    require(cnt >= 0 && off >= 0 && nBytesL <= Int.MaxValue - 8,
      s"variable-length cell descriptor out of range in ${c.name}: " +
        s"($cnt elements, offset $off, ${nBytesL}B)")
    val nBytes = nBytesL.toInt
    val cell = new Array[Byte](nBytes)
    if (nBytes > 0) src.readAt(heapStart + off, cell, 0, nBytes)
    if (c.code == 'X') return cell // packed bits as binary
    val hb = ByteBuffer.wrap(cell)
    if (c.code == 'A') {
      val s = new String(cell, java.nio.charset.StandardCharsets.US_ASCII)
      UTF8String.fromString(FitsFormat.trimTrailing(s))
    } else {
      val arr = new Array[Any](cnt.toInt)
      var i = 0
      while (i < cnt) {
        val raw = FitsFormat.decodeElem(hb, i * c.elemBytes, c)
        arr(i) = if (c.hasScaling) FitsFormat.applyScale(raw, c) else raw
        i += 1
      }
      new GenericArrayData(arr)
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = src.close()
}

/** One partition's bytes: records arrive sequentially from `start` (an
  * absolute position in the logical — for gzip, decompressed — stream);
  * heap cells (P/Q descriptors, tile blobs) by positioned read.
  */
private[fits] trait FitsByteSrc {
  def readFully(b: Array[Byte], off: Int, len: Int): Unit
  def readAt(pos: Long, b: Array[Byte], off: Int, len: Int): Unit
  def close(): Unit
}

private[fits] object FitsByteSrc {
  def open(path: String, start: Long, confProps: Map[String, String]): FitsByteSrc = {
    val p = new Path(path)
    val fs = {
      val c = new Configuration()
      confProps.foreach { case (k, v) => c.set(k, v) }
      p.getFileSystem(c)
    }
    if (FitsTable.isGzip(path)) new GzipSrc(fs, p, start) else new FileSrc(fs, p, start)
  }

  /** Plain file: seekable stream + a second lazily-opened handle for heap
    * reads, so fixed-width-only scans pay nothing for it.
    */
  private final class FileSrc(fs: FileSystem, p: Path, start: Long) extends FitsByteSrc {
    private val in = fs.open(p)
    in.seek(start)
    private var heapInOpt: Option[org.apache.hadoop.fs.FSDataInputStream] = None
    def readFully(b: Array[Byte], off: Int, len: Int): Unit = in.readFully(b, off, len)
    def readAt(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      val h = heapInOpt.getOrElse {
        val x = fs.open(p); heapInOpt = Some(x); x
      }
      h.readFully(pos, b, off, len)
    }
    def close(): Unit = {
      in.close()
      heapInOpt.foreach(h => try h.close() catch { case _: Throwable => () })
    }
  }

  /** Gzipped member: not seekable, so the whole member is decompressed
    * once into memory and served from the array (positions are logical
    * decompressed offsets, which is what the spec carries). Memory is
    * bounded by the decompressed file size — acceptable because planning
    * gives each .gz member exactly ONE partition; the splittable paths
    * for big tables are the uncompressed layout and the TILED layout
    * (ZTABLE=T, the fpack table shape — compressed cells inside an
    * ordinary BINTABLE), which splits on tile boundaries: see
    * TiledTableSpec and FitsPartitionReader's tiled path.
    */
  private final class GzipSrc(fs: FileSystem, p: Path, start: Long) extends FitsByteSrc {
    // LAZY on both paths (r4 review): sequential row reads STREAM through
    // the decompressor — a LIMIT 1 or fixed-width-only scan never holds
    // the member in memory — and the whole-member byte array materializes
    // only when a heap (P/Q descriptor or tile blob) readAt occurs, since
    // gzip cannot seek backwards.
    private var seqOpt: Option[java.io.DataInputStream] = None
    private def seq: java.io.DataInputStream = seqOpt.getOrElse {
      val d = new java.io.DataInputStream(
        new java.util.zip.GZIPInputStream(fs.open(p)))
      d.skipNBytes(start)
      seqOpt = Some(d)
      d
    }
    private var heapBytes: Array[Byte] = _
    private def materialize(): Array[Byte] = {
      val s = new java.util.zip.GZIPInputStream(fs.open(p))
      try {
        val out = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](1 << 16)
        var total = 0L
        var n = s.read(b)
        while (n >= 0) {
          if (n > 0) {
            total += n
            // JVM arrays cap near 2^31 bytes: fail with the remedy instead
            // of an opaque OutOfMemoryError mid-scan
            if (total > Int.MaxValue - 16)
              throw new UnsupportedOperationException(
                s"gzipped FITS member $p decompresses past ${Int.MaxValue - 16} " +
                  "bytes (JVM array limit); store tables this large uncompressed " +
                  "or tiled — both also restore splittable scans")
            out.write(b, 0, n)
          }
          n = s.read(b)
        }
        out.toByteArray
      } finally s.close()
    }
    def readFully(b: Array[Byte], off: Int, len: Int): Unit = seq.readFully(b, off, len)
    def readAt(at: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      if (heapBytes == null) heapBytes = materialize()
      if (at + len > heapBytes.length)
        throw new java.io.EOFException(s"gzip FITS heap read past end at $at")
      System.arraycopy(heapBytes, at.toInt, b, off, len)
    }
    def close(): Unit =
      seqOpt.foreach(d => try d.close() catch { case _: Throwable => () })
  }
}
