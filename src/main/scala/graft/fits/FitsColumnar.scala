package graft.fits

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Which BINTABLE scans read columnar, and how a block of records is cut.
  *
  * A scan reads columnar when every partition is a plain or gzipped
  * `TableSpec` BINTABLE and every required column is a scalar L/B/I/J/K/E/D
  * or a fixed `nA` string. Everything else stays on `FitsPartitionReader`:
  * ASCII and tiled tables, P/Q heap columns, `repeat > 1` arrays, X/C/M
  * columns and the unsigned-idiom K (a Decimal per cell).
  */
object FitsColumnar {

  /** Most records one columnar block holds. */
  val MaxBlockRows = 4096
  /** Byte cap on one block's record buffer: wide records get fewer rows. */
  val MaxBlockBytes: Int = 1 << 20

  /** Records per block for records of `rowBytes` bytes (at least one). */
  def blockRows(rowBytes: Int): Int =
    math.max(1, math.min(MaxBlockRows, MaxBlockBytes / math.max(1, rowBytes)))

  /** `Character.isWhitespace` on an ASCII byte: TAB, LF, VT, FF, CR,
    * FS/GS/RS/US and space — what `FitsFormat.trimTrailing` trims.
    */
  @inline private[fits] def isAsciiWhitespace(b: Byte): Boolean =
    (b >= 0x09 && b <= 0x0d) || (b >= 0x1c && b <= 0x20)

  /** Why column `c` must be decoded on rows; None when it decodes columnar. */
  def rowOnlyCause(c: FitsFormat.ColSpec): Option[String] = c.varDesc match {
    case Some(pq) => Some(s"variable-length ${pq}${c.code}")
    case None => c.code match {
      case 'A' => None
      case 'X' | 'C' | 'M' => Some(s"TFORM code ${c.code}")
      case _ if c.repeat > 1 => Some(s"${c.repeat}${c.code} array")
      case 'K' if c.isUnsignedIdiom => Some("unsigned-idiom K (decimal)")
      case _ => None
    }
  }

  /** None when every partition can be read columnar for `required`;
    * otherwise the first file flavour or column that keeps the scan on rows.
    */
  def rowPathCause(required: StructType,
      parts: Seq[FitsInputPartition]): Option[String] =
    parts.iterator.map(p => (p.path, p.swo.spec)).distinct.flatMap {
      case (_, t: FitsFormat.TableSpec) =>
        required.fieldNames.iterator.flatMap(n =>
          rowOnlyCause(t.cols.find(_.name == n).get).map(why => s"column $n: $why"))
      case (path, _: FitsFormat.TiledTableSpec) => Iterator(s"tiled table $path")
      case (path, _: FitsFormat.AsciiTableSpec) => Iterator(s"ASCII table $path")
    }.nextOption()
}

/** Columnar BINTABLE reader: one `readFully` per block of whole records,
  * then one strided big-endian loop per required column into reused
  * on-heap column vectors — no per-cell boxing and no per-row stream call.
  *
  * The cell semantics are those of `FitsFormat.decodeElem`/`applyScale`/
  * `trimTrailing`: TNULL and float NaN/±Inf are null, the unsigned idioms
  * widen, TSCAL/TZERO give doubles, L bytes other than T/F are null, a
  * zero-repeat numeric cell is null, and `nA` cells are US-ASCII (bytes
  * ≥ 0x80 become U+FFFD) with trailing whitespace trimmed.
  *
  * A data unit shorter than the header declares fails the block read with
  * `EOFException`, as on the row path; a short block is never returned.
  */
class FitsColumnarPartitionReader(required: StructType, part: FitsInputPartition,
    confProps: Map[String, String] = Map.empty)
  extends PartitionReader[ColumnarBatch] {

  private val spec = part.swo.spec match {
    case t: FitsFormat.TableSpec => t
    case other => throw new IllegalArgumentException(
      s"columnar FITS read needs a BINTABLE, got ${other.getClass.getSimpleName} in ${part.path}")
  }
  private val colIdx: Array[Int] =
    required.fieldNames.map(n => spec.cols.indexWhere(_.name == n))
  colIdx.foreach { ci =>
    FitsColumnar.rowOnlyCause(spec.cols(ci)).foreach(why => throw new IllegalArgumentException(
      s"column ${spec.cols(ci).name} cannot be read columnar: $why"))
  }

  private val rowBytes = spec.rowBytes
  private val capacity = FitsColumnar.blockRows(rowBytes)
  private val block = new Array[Byte](capacity * rowBytes)
  private val bb = ByteBuffer.wrap(block) // big-endian per FITS
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(capacity, required)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  private val src = FitsByteSrc.open(part.path,
    part.swo.dataStart + part.rowStart * rowBytes, confProps)
  private var row = part.rowStart

  override def next(): Boolean = {
    if (row >= part.rowEnd) return false
    val n = math.min(capacity.toLong, part.rowEnd - row).toInt
    src.readFully(block, 0, n * rowBytes)
    var k = 0
    while (k < colIdx.length) {
      vectors(k).reset()
      decodeColumn(spec.cols(colIdx(k)), spec.offsets(colIdx(k)), vectors(k), n)
      k += 1
    }
    batch.setNumRows(n)
    row += n
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = try src.close() finally batch.close()

  private def decodeColumn(c: FitsFormat.ColSpec, base: Int,
      v: WritableColumnVector, n: Int): Unit =
    if (c.code == 'A') decodeChars(c.repeat, base, v, n)
    else if (c.repeat == 0) v.putNulls(0, n)
    else if (c.hasScaling) decodeScaled(c, base, v, n)
    else decodePlain(c, base, v, n)

  /** Unscaled scalars, typed per `ColSpec.sparkElemType`. */
  private def decodePlain(c: FitsFormat.ColSpec, base: Int,
      v: WritableColumnVector, n: Int): Unit = {
    val hasNull = c.tnull.isDefined
    val tnull = c.tnull.getOrElse(0L)
    val unsigned = c.isUnsignedIdiom
    var i = 0
    var p = base
    c.code match {
      case 'L' =>
        while (i < n) {
          val b = block(p)
          if (b == 'T') v.putBoolean(i, true)
          else if (b == 'F') v.putBoolean(i, false)
          else v.putNull(i)
          i += 1; p += rowBytes
        }
      case 'B' =>
        while (i < n) {
          val raw = block(p) & 0xff
          if (hasNull && raw == tnull) v.putNull(i)
          else v.putShort(i, (if (unsigned) raw - 128 else raw).toShort)
          i += 1; p += rowBytes
        }
      case 'I' =>
        while (i < n) {
          val raw = bb.getShort(p)
          if (hasNull && raw == tnull) v.putNull(i)
          else if (unsigned) v.putInt(i, raw + 32768)
          else v.putShort(i, raw)
          i += 1; p += rowBytes
        }
      case 'J' =>
        while (i < n) {
          val raw = bb.getInt(p)
          if (hasNull && raw == tnull) v.putNull(i)
          else if (unsigned) v.putLong(i, raw + 2147483648L)
          else v.putInt(i, raw)
          i += 1; p += rowBytes
        }
      case 'K' =>
        while (i < n) {
          val raw = bb.getLong(p)
          if (hasNull && raw == tnull) v.putNull(i) else v.putLong(i, raw)
          i += 1; p += rowBytes
        }
      case 'E' =>
        while (i < n) {
          val f = bb.getFloat(p)
          if (java.lang.Float.isFinite(f)) v.putFloat(i, f) else v.putNull(i)
          i += 1; p += rowBytes
        }
      case 'D' =>
        while (i < n) {
          val d = bb.getDouble(p)
          if (java.lang.Double.isFinite(d)) v.putDouble(i, d) else v.putNull(i)
          i += 1; p += rowBytes
        }
    }
  }

  /** TSCAL/TZERO columns: raw · TSCAL + TZERO as a double, after the raw
    * value's own TNULL (integers) or NaN/±Inf (floats) check.
    */
  private def decodeScaled(c: FitsFormat.ColSpec, base: Int,
      v: WritableColumnVector, n: Int): Unit = {
    val hasNull = c.tnull.isDefined
    val tnull = c.tnull.getOrElse(0L)
    val scale = c.scale.getOrElse(1.0)
    val zero = c.zero.getOrElse(0.0)
    var i = 0
    var p = base
    while (i < n) {
      c.code match {
        case 'B' =>
          val raw = block(p) & 0xff
          if (hasNull && raw == tnull) v.putNull(i) else v.putDouble(i, raw * scale + zero)
        case 'I' =>
          val raw = bb.getShort(p)
          if (hasNull && raw == tnull) v.putNull(i) else v.putDouble(i, raw * scale + zero)
        case 'J' =>
          val raw = bb.getInt(p)
          if (hasNull && raw == tnull) v.putNull(i) else v.putDouble(i, raw * scale + zero)
        case 'K' =>
          val raw = bb.getLong(p)
          if (hasNull && raw == tnull) v.putNull(i)
          else v.putDouble(i, raw.toDouble * scale + zero)
        case 'E' =>
          val f = bb.getFloat(p)
          if (java.lang.Float.isFinite(f)) v.putDouble(i, f.toDouble * scale + zero)
          else v.putNull(i)
        case 'D' =>
          val d = bb.getDouble(p)
          if (java.lang.Double.isFinite(d)) v.putDouble(i, d * scale + zero)
          else v.putNull(i)
      }
      i += 1; p += rowBytes
    }
  }

  /** `nA` cells: trailing whitespace trimmed on the bytes (US-ASCII maps
    * each byte to one char, and U+FFFD is not whitespace); all-ASCII cells
    * are already UTF-8, the rest go through the US-ASCII decoder.
    */
  private def decodeChars(width: Int, base: Int, v: WritableColumnVector,
      n: Int): Unit = {
    var i = 0
    var p = base
    while (i < n) {
      var end = p + width
      while (end > p && FitsColumnar.isAsciiWhitespace(block(end - 1))) end -= 1
      var j = p
      while (j < end && block(j) >= 0) j += 1
      if (j == end) v.putByteArray(i, block, p, end - p)
      else {
        val utf8 = new String(block, p, end - p, StandardCharsets.US_ASCII)
          .getBytes(StandardCharsets.UTF_8)
        v.putByteArray(i, utf8, 0, utf8.length)
      }
      i += 1; p += rowBytes
    }
  }
}
