package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.ByteBuffer

import graft.fits._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The columnar BINTABLE reader against the row reader: both are driven
  * through their constructors on the same partitions of random raw frames
  * and must agree cell for cell (value and type). Plan tests pin which
  * scans read columnar, and truncated data units must fail with
  * `EOFException` on the columnar path as they do on rows.
  */
class FitsColumnarSpec extends SparkTestBase {
  import FitsColumnarSpec.RawCol

  private def pad(out: ByteArrayOutputStream, fill: Byte): Unit =
    out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))

  /** A primary HDU and one BINTABLE of `nRows` records from `cols`. */
  private def writeRaw(path: String, cols: Seq[RawCol], nRows: Int,
      rnd: scala.util.Random): Unit = {
    val out = new ByteArrayOutputStream()
    def card(k: String, v: String, quote: Boolean = false): Unit =
      out.write(FitsWriter.card(k, v, quote))
    def end(): Unit = { out.write("END".padTo(80, ' ').getBytes("US-ASCII")); pad(out, ' ') }
    card("SIMPLE", "T"); card("BITPIX", "8"); card("NAXIS", "0"); end()
    val rowBytes = cols.map(_.width).sum
    card("XTENSION", "BINTABLE", quote = true); card("BITPIX", "8"); card("NAXIS", "2")
    card("NAXIS1", rowBytes.toString); card("NAXIS2", nRows.toString)
    card("PCOUNT", "0"); card("GCOUNT", "1"); card("TFIELDS", cols.length.toString)
    cols.zipWithIndex.foreach { case (c, i) =>
      card(s"TTYPE${i + 1}", s"c$i", quote = true)
      card(s"TFORM${i + 1}", c.tform, quote = true)
      c.cards.foreach { case (k, v) => card(s"$k${i + 1}", v) }
    }
    end()
    val rec = ByteBuffer.allocate(rowBytes)
    (0 until nRows).foreach { _ =>
      rec.clear()
      cols.foreach { c => val at = rec.position(); c.fill(rnd, rec, at); rec.position(at + c.width) }
      out.write(rec.array(), 0, rowBytes)
    }
    pad(out, 0)
    val f = new FileOutputStream(path)
    try out.writeTo(f) finally f.close()
  }

  private val charPool: Array[Byte] =
    ("abcXYZ09 ".getBytes("US-ASCII") ++ Array[Int](' ', ' ', '\t', '\n', 0x0b, 0x1c,
      0x00, 0x7f, 0x80, 0xc3, 0xa9, 0xff).map(_.toByte))

  /** L bytes: T, F and three undefined ones. */
  private val logicals: Array[Byte] = Array[Int]('T', 'F', 'F', 'T', 0, 'x', 0xff).map(_.toByte)

  /** Float bit patterns that must decode as null: NaNs with payloads, ±Inf. */
  private val badFloats = Seq(0x7fc00000, 0x7f800001, 0xffc12345, 0x7f800000, 0xff800000)
  private val badDoubles = Seq(0x7ff8000000000000L, 0x7ff0000000000001L,
    0xfff8000000000abcL, 0x7ff0000000000000L, 0xfff0000000000000L)

  /** A random column: every scalar code, zero repeats, `nA` strings, and
    * the TNULL, TSCAL/TZERO and unsigned-idiom variants.
    */
  private def randomCol(rnd: scala.util.Random): RawCol = {
    val code = "LBIJKEDA".charAt(rnd.nextInt(8))
    if (code == 'A') {
      val w = rnd.nextInt(13)
      return RawCol(s"${w}A", Nil, w, (r, b, at) =>
        (0 until w).foreach(j => b.put(at + j, charPool(r.nextInt(charPool.length)))))
    }
    if (rnd.nextInt(10) == 0) return RawCol(s"0$code", Nil, 0, (_, _, _) => ())
    val bytes = Map('L' -> 1, 'B' -> 1, 'I' -> 2, 'J' -> 4, 'K' -> 8, 'E' -> 4, 'D' -> 8)(code)
    val idiom = Map('B' -> "-128", 'I' -> "32768", 'J' -> "2147483648",
      'K' -> "9223372036854775808")
    val scaled = Seq("TSCAL" -> s"${rnd.nextInt(7) - 3}.25", "TZERO" -> s"${rnd.nextInt(200) - 100}.5")
    val isInt = "BIJK".contains(code)
    val cards: Seq[(String, String)] = rnd.nextInt(5) match {
      case 0 if isInt => Seq("TZERO" -> idiom(code)) ++
        (if (rnd.nextBoolean()) Seq("TSCAL" -> "1.0") else Nil)
      case 1 if code != 'L' => scaled
      case _ => Nil
    }
    // a TNULL value that actually occurs, on integer columns
    val tnull: Option[Long] = if (isInt && rnd.nextBoolean()) Some(code match {
      case 'B' => rnd.nextInt(256).toLong
      case 'I' => rnd.nextInt(65536) - 32768L
      case 'J' => rnd.nextInt().toLong
      case _ => rnd.nextLong()
    }) else None
    val allCards = cards ++ tnull.map(t => "TNULL" -> t.toString)
    RawCol(s"1$code", allCards, bytes, (r, b, at) => code match {
      case 'L' => b.put(at, logicals(r.nextInt(logicals.length)))
      case 'E' if r.nextInt(8) == 0 => b.putInt(at, badFloats(r.nextInt(badFloats.size)))
      case 'D' if r.nextInt(8) == 0 => b.putLong(at, badDoubles(r.nextInt(badDoubles.size)))
      case _ if tnull.isDefined && r.nextInt(8) == 0 =>
        val t = tnull.get
        code match {
          case 'B' => b.put(at, t.toByte); case 'I' => b.putShort(at, t.toShort)
          case 'J' => b.putInt(at, t.toInt); case _ => b.putLong(at, t)
        }
      case _ => (0 until bytes).foreach(j => b.put(at + j, r.nextInt().toByte))
    })
  }

  private def partitions(path: String, rowsPerSplit: Option[Long]): Seq[FitsInputPartition] = {
    val schema = FitsTable.readSpec(path, 0).spec.schema
    FitsScan.splitsFor(Seq(path), 0, schema, rowsPerSplit).toSeq
      .map(_.asInstanceOf[FitsInputPartition])
  }

  /** Each row as typed cells, so a Short and an Int never compare equal,
    * with strings as their UTF-8 bytes (`toString` would hide invalid
    * UTF-8). A column-vector row's `get` does not check `isNullAt` itself.
    */
  private def render(r: InternalRow, schema: StructType): Seq[String] =
    schema.fields.indices.map { i =>
      if (r.isNullAt(i)) "null"
      else r.get(i, schema(i).dataType) match {
        case u: UTF8String => "UTF8String:" + u.getBytes.map(b => f"$b%02x").mkString
        case v => s"${v.getClass.getSimpleName}:$v"
      }
    }

  private def viaRows(p: FitsInputPartition, required: StructType): Seq[Seq[String]] = {
    val rd = new FitsPartitionReader(p.path, p.swo, required, p)
    try Iterator.continually(rd).takeWhile(_.next()).map(x => render(x.get(), required)).toList
    finally rd.close()
  }

  private def viaColumns(p: FitsInputPartition, required: StructType): Seq[Seq[String]] = {
    val rd = new FitsColumnarPartitionReader(required, p)
    val cap = FitsColumnar.blockRows(p.swo.spec.rowBytes)
    try Iterator.continually(rd).takeWhile(_.next()).flatMap { x =>
      val b = x.get()
      assert(b.numRows() > 0 && b.numRows() <= cap)
      (0 until b.numRows()).map(i => render(b.getRow(i), required))
    }.toList
    finally rd.close()
  }

  private def assertSameCells(path: String, required: StructType,
      rowsPerSplit: Option[Long]): Unit = {
    val parts = partitions(path, rowsPerSplit)
    parts.foreach { p =>
      val rows = viaRows(p, required)
      val cols = viaColumns(p, required)
      assert(rows.length == p.rowEnd - p.rowStart)
      assert(cols.length == rows.length, s"$path [${p.rowStart}, ${p.rowEnd})")
      rows.zip(cols).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"$path row ${p.rowStart + i}: rows $a vs columns $b")
      }
    }
  }

  test("random frames: columnar cells equal row cells, whole, split mid-block and gzipped") {
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val cols = Seq.fill(3 + rnd.nextInt(10))(randomCol(rnd))
      val rowBytes = cols.map(_.width).sum
      val block = FitsColumnar.blockRows(rowBytes)
      val nRows = 2 * block + 1 + rnd.nextInt(block - 1) // not a block multiple
      val path = Util.scratch(s"columnar_diff_$seed.fits")
      writeRaw(path, cols, nRows, rnd)
      val spec = FitsTable.readSpec(path, 0).spec.asInstanceOf[FitsFormat.TableSpec]
      // the unsigned-idiom K decodes to Decimal and stays on rows
      val (columnar, rowOnly) = spec.cols.partition(FitsColumnar.rowOnlyCause(_).isEmpty)
      rowOnly.foreach(c => assert(c.code == 'K' && c.isUnsignedIdiom, c))
      val required = StructType(columnar.map(c => StructField(c.name, c.sparkType)))
      val parts = partitions(path, None)
      assert(FitsColumnar.rowPathCause(required, parts).isEmpty)
      rowOnly.headOption.foreach { c =>
        assert(FitsColumnar.rowPathCause(spec.schema, parts).contains(
          s"column ${c.name}: unsigned-idiom K (decimal)"))
      }
      assertSameCells(path, required, None)
      // splits of block + 123 rows start mid-block from the second one on
      val split = block + 123L
      assert(partitions(path, Some(split)).length > 1)
      assertSameCells(path, required, Some(split))
      // a column subset in a different order
      assertSameCells(path, StructType(required.fields.reverse.take(2)), Some(split))
      val gz = path + ".gz"
      Util.gzipFile(path, gz)
      assert(partitions(gz, Some(split)).length == 1)
      assertSameCells(gz, required, Some(split))
    }
  }

  test("the edge cells decode as the row path defines them") {
    val path = Util.scratch("columnar_edges.fits")
    val chars = "abé \t".getBytes("ISO-8859-1")
    val cols = Seq(
      RawCol("1L", Nil, 1, (_, b, at) => b.put(at, 'x'.toByte)),
      RawCol("1E", Nil, 4, (_, b, at) => b.putFloat(at, Float.NegativeInfinity)),
      RawCol("0D", Nil, 0, (_, _, _) => ()),
      RawCol("1J", Seq("TNULL" -> "-7"), 4, (_, b, at) => b.putInt(at, -7)),
      RawCol("1I", Seq("TZERO" -> "32768"), 2, (_, b, at) => b.putShort(at, -1)),
      RawCol("1B", Seq("TSCAL" -> "0.5", "TZERO" -> "10"), 1, (_, b, at) => b.put(at, (-1).toByte)),
      RawCol("5A", Nil, 5, (_, b, at) => chars.indices.foreach(j => b.put(at + j, chars(j)))))
    writeRaw(path, cols, 3, new scala.util.Random(0))
    val p = partitions(path, None).head
    val required = p.swo.spec.schema
    val got = viaColumns(p, required)
    assert(got == viaRows(p, required))
    assert(got.head == Seq("null", "null", "null", "null", "Integer:32767",
      "Double:137.5", "UTF8String:6162efbfbd")) // "ab" + U+FFFD
  }

  private def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def scalars(n: Int): DataFrame = spark.range(0, n, 1, 2).select(
    col("id"), (col("id") * 0.5).as("x"), concat(lit("s"), col("id")).as("s"))

  test("an eligible scan reads columnar and says so in its plan") {
    val path = Util.scratch("columnar_plan.fits")
    FitsWriter.writeDataFrame(path, scalars(100), strLens = Map("s" -> 8))
    val df = spark.read.format("fits").load(path)
    val p = plan(df)
    assert(p.contains("ColumnarToRow") && p.contains("columnar=true"), p)
    assert(df.orderBy("id").collect().map(_.getString(2)).toSeq ==
      (0 until 100).map(i => s"s$i"))
    assert(df.count() == 100)
  }

  test("var-length, ASCII and tiled scans stay on rows and name the cause") {
    val varPath = Util.scratch("columnar_var.fits")
    FitsWriter.writeDataFrame(varPath,
      spark.range(0, 20, 1, 1).select(col("id"), array(col("id"), col("id")).as("v")),
      varCols = Map("v" -> 'P'))
    val varDf = spark.read.format("fits").load(varPath)
    val vp = plan(varDf)
    assert(!vp.contains("ColumnarToRow") && vp.contains("columnar=false (column v: variable-length P"), vp)
    // pruned to the scalar column, the same file reads columnar
    assert(plan(varDf.select("id")).contains("ColumnarToRow"))

    val asciiPath = Util.scratch("columnar_ascii.fits")
    FitsWriter.writeAsciiDataFrame(asciiPath, scalars(20), strLens = Map("s" -> 8))
    val ap = plan(spark.read.format("fits").load(asciiPath))
    assert(!ap.contains("ColumnarToRow") && ap.contains("columnar=false (ASCII table"), ap)

    val tiledPath = Util.scratch("columnar_tiled.fits")
    FitsWriter.writeTiledDataFrame(tiledPath, scalars(20), tileLen = 8, strLens = Map("s" -> 8))
    val tp = plan(spark.read.format("fits").load(tiledPath))
    assert(!tp.contains("ColumnarToRow") && tp.contains("columnar=false (tiled table"), tp)
  }

  test("a load mixing a tiled and a plain file of one schema runs on rows") {
    val plain = Util.scratch("columnar_mix_plain.fits")
    val tiled = Util.scratch("columnar_mix_tiled.fits")
    FitsWriter.writeDataFrame(plain, scalars(30), strLens = Map("s" -> 8))
    FitsWriter.writeTiledDataFrame(tiled, scalars(20), tileLen = 8, strLens = Map("s" -> 8))
    Seq(Seq(plain, tiled), Seq(tiled, plain)).foreach { files =>
      val df = spark.read.format("fits").load(files: _*)
      val p = plan(df)
      assert(!p.contains("ColumnarToRow") && p.contains("tiled table"), p)
      assert(df.count() == 50)
      assert(df.agg(sum("id")).head().getLong(0) == (0 until 30).sum + (0 until 20).sum)
    }
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("a truncated data unit fails with EOFException on the columnar path, never a short batch") {
    val path = Util.scratch("columnar_truncated.fits")
    FitsWriter.writeDataFrame(path, scalars(30000), strLens = Map("s" -> 8))
    val swo = FitsTable.readSpec(path, 0)
    val block = FitsColumnar.blockRows(swo.spec.rowBytes)
    assert(swo.spec.nRows > 2 * block)
    // cut inside the second block
    val keep = swo.dataStart + (block + block / 2).toLong * swo.spec.rowBytes + 3
    val raf = new java.io.RandomAccessFile(path, "rw")
    try raf.setLength(keep) finally raf.close()

    val df = spark.read.format("fits").load(path)
    assert(df.queryExecution.executedPlan.toString.contains("columnar=true"))
    Seq[() => Any](() => df.collect(), () => df.count()).foreach { action =>
      val e = intercept[Exception](action())
      assert(causes(e).exists(_.isInstanceOf[java.io.EOFException]), e)
    }

    val p = partitions(path, None).head
    val rows = new FitsPartitionReader(p.path, p.swo, swo.spec.schema, p)
    try intercept[java.io.EOFException](while (rows.next()) ()) finally rows.close()
    Seq(swo.spec.schema, new StructType()).foreach { required =>
      val cols = new FitsColumnarPartitionReader(required, p)
      try {
        assert(cols.next() && cols.get().numRows() == block)
        intercept[java.io.EOFException](cols.next())
      } finally cols.close()
    }
  }
}

object FitsColumnarSpec {
  /** One raw column: TFORM, extra header cards, and a cell writer. */
  final case class RawCol(tform: String, cards: Seq[(String, String)],
      width: Int, fill: (scala.util.Random, ByteBuffer, Int) => Unit)
}
