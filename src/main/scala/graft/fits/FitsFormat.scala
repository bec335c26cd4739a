package graft.fits

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.types._

/** FITS 4.0 binary-table format primitives (IAU FITS standard; layout is
  * fixed by the standard, not by any implementation — SURVEY §1.1).
  *
  * A FITS file is a sequence of HDUs. Each HDU = header (2880-byte blocks
  * of 80-char ASCII "cards") + data (2880-padded). A BINTABLE extension
  * declares its schema entirely in header keywords: NAXIS1 (bytes/row),
  * NAXIS2 (rows), TFIELDS, and per-column TTYPEn/TFORMn/TSCALn/TZEROn/
  * TNULLn. Records are fixed-width, row-oriented, big-endian.
  */
object FitsFormat {

  val BlockSize = 2880
  val CardSize = 80

  /** Trailing-whitespace trim for character cells (FITS 4.0: trailing
    * blanks are insignificant, leading spaces are data). An index scan,
    * not `replaceAll("\\s+$", "")`: that ran Pattern.compile + a Matcher
    * allocation once per string CELL in the row-decode hot path —
    * hundreds of millions of redundant compiles on an archive scan.
    * Same accepted class as the regex (`\s` ⇔ isWhitespace for ASCII).
    */
  @inline private[fits] def trimTrailing(s: String): String = {
    var end = s.length
    while (end > 0 && Character.isWhitespace(s.charAt(end - 1))) end -= 1
    if (end == s.length) s else s.substring(0, end)
  }

  /** One column as declared by the header.
    * `varDesc`: Some('P')/Some('Q') for variable-length array columns —
    * the record then holds a (count, heap-offset) descriptor (2×int32 for
    * P, 2×int64 for Q) and the elements live in the heap area after the
    * main table (FITS 4.0 §7.3.5). `code` is then the ELEMENT type.
    */
  final case class ColSpec(
      name: String,
      code: Char,      // element type: L X B I J K E D A C M
      repeat: Int,
      scale: Option[Double],
      zero: Option[Double],
      tnull: Option[Long],
      varDesc: Option[Char] = None,
      tdim: Option[Seq[Int]] = None) { // TDIMn shape, first axis fastest

    val elemBytes: Int = code match {
      case 'L' | 'B' | 'A' | 'X' => 1
      case 'I' => 2
      case 'J' | 'E' => 4
      case 'K' | 'D' | 'C' => 8  // C = complex64: (re, im) float32 pair
      case 'M' => 16             // M = complex128: (re, im) float64 pair
      case c => throw new IllegalArgumentException(s"Unsupported TFORM code '$c'")
    }

    def byteWidth: Int = varDesc match {
      case Some('P') => 8  // two int32: (n_elems, heap_offset)
      case Some('Q') => 16 // two int64
      case _ => code match {
        case 'X' => (repeat + 7) / 8
        case _ => repeat * elemBytes
      }
    }

    /** Unsigned-integer idiom: TZERO=2^(bits-1), TSCAL absent/1 (§1.2).
      * A val, as is `hasScaling`: the row decoders read both per cell.
      */
    val isUnsignedIdiom: Boolean = zero.exists { z =>
      scale.forall(_ == 1.0) && (
        (code == 'B' && z == -128.0) || // signed-byte idiom (rare, inverse)
        (code == 'I' && z == 32768.0) ||
        (code == 'J' && z == 2147483648.0) ||
        (code == 'K' && z == 9.223372036854775808e18))
    }

    val hasScaling: Boolean =
      (scale.exists(_ != 1.0) || zero.exists(_ != 0.0)) && !isUnsignedIdiom &&
        "LAXCM".indexOf(code) < 0 // scaling undefined there

    /** Spark type per the SURVEY §1.2 widening table. */
    def sparkElemType: DataType =
      if (hasScaling) DoubleType
      else code match {
        case 'L' => BooleanType
        case 'X' => BinaryType
        case 'B' => ShortType // unsigned 8-bit widens
        case 'I' => if (isUnsignedIdiom) IntegerType else ShortType
        case 'J' => if (isUnsignedIdiom) LongType else IntegerType
        case 'K' => if (isUnsignedIdiom) DecimalType(20, 0) else LongType
        case 'E' => FloatType
        case 'D' => DoubleType
        case 'A' => StringType
        case 'C' => StructType(Seq(StructField("re", FloatType), StructField("im", FloatType)))
        case 'M' => StructType(Seq(StructField("re", DoubleType), StructField("im", DoubleType)))
      }

    def sparkType: DataType =
      if (varDesc.isDefined) code match {
        case 'A' => StringType // var-length char array = one string
        case _ => ArrayType(sparkElemType, containsNull = true)
      }
      else code match {
        case 'A' | 'X' => sparkElemType // char array = one string; bits = bytes
        case _ if repeat > 1 => tdim match {
          // TDIM (d1,...,dn) ⇒ nested arrays, innermost axis = d1 (§1.2)
          case Some(dims) if dims.length >= 2 =>
            dims.tail.foldLeft(ArrayType(sparkElemType, containsNull = true): DataType)(
              (t, _) => ArrayType(t, containsNull = true))
          case _ => ArrayType(sparkElemType, containsNull = true)
        }
        case _ => sparkElemType
      }
  }

  /** Either flavor of FITS table extension (BINTABLE or ASCII TABLE). */
  sealed trait HduSpec {
    def rowBytes: Int
    def nRows: Long
    def schema: StructType
  }

  /** `theap` = heap offset from the start of the data unit (defaults to the
    * end of the main table, per the standard).
    */
  final case class TableSpec(rowBytes: Int, nRows: Long, cols: Seq[ColSpec],
      theap: Long) extends HduSpec {
    def schema: StructType =
      StructType(cols.map(c => StructField(c.name, c.sparkType, nullable = true)))
    /** Byte offset of each column within a record. */
    val offsets: Array[Int] = cols.scanLeft(0)(_ + _.byteWidth).init.toArray
  }

  /** ASCII TABLE (XTENSION='TABLE') column: fixed character field at
    * TBCOLn (1-based in the header, 0-based here), format Aw/Iw/Fw.d/
    * Ew.d/Dw.d (FITS 4.0 §7.2). ASCII TNULLn is a literal string.
    */
  final case class AsciiColSpec(
      name: String,
      code: Char, // A I F E D
      start0: Int,
      width: Int,
      scale: Option[Double],
      zero: Option[Double],
      tnullStr: Option[String]) {
    def hasScaling: Boolean = scale.exists(_ != 1.0) || zero.exists(_ != 0.0)
    def sparkType: DataType = code match {
      case 'A' => StringType
      case 'I' => if (hasScaling) DoubleType else LongType
      case _ => DoubleType // F / E / D
    }
  }

  final case class AsciiTableSpec(rowBytes: Int, nRows: Long,
      cols: Seq[AsciiColSpec]) extends HduSpec {
    def schema: StructType =
      StructType(cols.map(c => StructField(c.name, c.sparkType, nullable = true)))
  }

  /** Tiled-table compression (the fpack table convention): an ordinary
    * BINTABLE marked ZTABLE=T whose STORED rows are tiles — one 1PB
    * descriptor cell per logical column per tile, pointing at that
    * column's compressed values for `tileLen` logical rows (column-major
    * within the cell, ZCTYPn per column). The logical table geometry
    * lives in ZNAXIS1/ZNAXIS2/ZFORMn; `rowBytes`/the stored NAXIS2 drive
    * the physical record reads, while `nRows`/`schema` present the
    * LOGICAL table to Spark. Tiles are the split unit: each is
    * independently decompressible, so a huge compressed table still
    * scans in parallel (unlike whole-file gzip members).
    */
  final case class TiledTableSpec(storedRowBytes: Int, nTiles: Long,
      tileLen: Long, zRows: Long, zRowBytes: Int, cols: Seq[ColSpec],
      zctyp: Seq[String], theap: Long) extends HduSpec {
    def rowBytes: Int = storedRowBytes
    def nRows: Long = zRows
    def schema: StructType =
      StructType(cols.map(c => StructField(c.name, c.sparkType, nullable = true)))
    def rowsInTile(tile: Long): Int =
      math.min(tileLen, zRows - tile * tileLen).toInt
  }

  // ------------------------------------------------------------ header read

  /** Reads 2880-blocks until an END card; returns (cards, bytesConsumed). */
  /** One card value: '/' starts a comment only OUTSIDE a quoted string;
    * inside one, '' is an escaped quote (FITS 4.0 §4.2.1) and trailing
    * blanks are insignificant. Returns (value, wasQuotedString).
    */
  private[graft] def parseCardValue(raw: String): (String, Boolean) =
    if (raw.startsWith("'")) {
      val sb = new StringBuilder
      var i = 1
      var open = true
      while (open && i < raw.length) {
        if (raw.charAt(i) == '\'') {
          if (i + 1 < raw.length && raw.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
          else open = false
        } else { sb.append(raw.charAt(i)); i += 1 }
      }
      (sb.toString.reverse.dropWhile(_ == ' ').reverse, true)
    } else (raw.split("/", 2)(0).trim, false)

  def readHeader(in: java.io.DataInput): (Map[String, String], Long) = {
    val cards = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var consumed = 0L
    var done = false
    // the key whose string value ended with '&' — the §4.2.1.2
    // long-string convention: following CONTINUE cards append to it
    // (the '&' is stripped only when a CONTINUE actually follows, so a
    // literal trailing '&' with no continuation survives intact)
    var pendingKey: String = null
    val block = new Array[Byte](BlockSize)
    while (!done) {
      in.readFully(block)
      consumed += BlockSize
      var i = 0
      while (i < BlockSize / CardSize) {
        val card = new String(block, i * CardSize, CardSize, StandardCharsets.US_ASCII)
        val key = card.take(8).trim
        if (key == "END") { done = true; i = BlockSize }
        else {
          if (key == "CONTINUE") {
            // no '= ' on CONTINUE cards: the string starts after col 8
            val raw = card.substring(8).trim
            if (pendingKey != null && raw.startsWith("'")) {
              val (v, _) = parseCardValue(raw)
              val prev = cards(pendingKey)
              cards(pendingKey) = prev.dropRight(1) + v // strip the '&'
              if (!v.endsWith("&")) pendingKey = null
            } else pendingKey = null // orphan CONTINUE: ignored (§4.2.1.2)
          } else if (key == "HIERARCH" && card.length > 9 &&
              card.charAt(8) != '=') {
            // the ESO HIERARCH convention: space-separated keyword
            // tokens up to '=', value in the normal grammar after it
            val body = card.substring(8)
            val eq = body.indexOf('=')
            if (eq > 0 && body.substring(0, eq).trim.nonEmpty) {
              val longKey = "HIERARCH " + body.substring(0, eq)
                .trim.split("\\s+").mkString(" ")
              val (v, quoted) = parseCardValue(body.substring(eq + 1).trim)
              cards(longKey) = v
              pendingKey = if (quoted && v.endsWith("&")) longKey else null
            } else pendingKey = null
          } else if (key.nonEmpty && card.length > 9 && card.charAt(8) == '=') {
            val (value, quoted) = parseCardValue(card.substring(10).trim)
            cards(key) = value
            pendingKey = if (quoted && value.endsWith("&")) key else null
          } else pendingKey = null
          i += 1
        }
      }
    }
    (cards.toMap, consumed)
  }

  // FITS 4.0 §7.3.1 permits trailing "additional characters" after the
  // type code (e.g. 'E14.7') — match the prefix, ignore the tail.
  private val TformRe = "^([0-9]*)([LXBIJKAEDCM]).*".r
  private val VarTformRe = "^([0-9]*)([PQ])([LXBIJKAEDCM])(?:\\(([0-9]+)\\))?.*".r

  /** Returns (elementCode, repeat, varDesc). */
  def parseTform(tform: String): (Char, Int, Option[Char]) = tform.trim match {
    case VarTformRe(_, pq, c, max) =>
      (c.head, Option(max).map(_.toInt).getOrElse(0), Some(pq.head))
    case TformRe(r, c) => (c.head, if (r.isEmpty) 1 else r.toInt, None)
    case other => throw new IllegalArgumentException(s"Unsupported TFORM '$other'")
  }

  def tableSpec(cards: Map[String, String]): TableSpec = {
    require(cards.get("XTENSION").exists(_.startsWith("BINTABLE")),
      s"Not a BINTABLE extension: ${cards.get("XTENSION")}")
    val rowBytes = cards("NAXIS1").toInt
    val nRows = cards("NAXIS2").toLong
    val nFields = cards("TFIELDS").toInt
    val used = scala.collection.mutable.Set.empty[String]
    val cols = (1 to nFields).map { i =>
      val (code, repeat, varDesc) = parseTform(cards(s"TFORM$i"))
      val rawName = cards.getOrElse(s"TTYPE$i", s"col$i")
      // FITS permits duplicate TTYPE values; Spark columns (and our
      // name-based pruning lookup) need unique names — dedup against all
      // assigned names (a per-name counter could still collide with a
      // header literally named rawName_2).
      var name = rawName
      var k = 2
      while (used(name)) { name = s"${rawName}_$k"; k += 1 }
      used += name
      // TDIMn = '(d1,d2,…)'; the standard requires the product to equal the
      // repeat count — reject mismatches rather than mis-slice data. On a
      // P/Q variable-length column FITS 4.0 §7.3.2 permits TDIMn as the
      // max-cell shape; each cell's actual length is dynamic, so the card
      // carries no layout information for us — ignore it (a require here
      // rejected standard-conforming external files).
      val tdim = cards.get(s"TDIM$i").filter(_ => varDesc.isEmpty).map { v =>
        val dims = v.trim.stripPrefix("(").stripSuffix(")")
          .split(",").map(_.trim.toInt).toSeq
        require(dims.product == repeat,
          s"TDIM$i=$v incompatible with TFORM$i=${cards(s"TFORM$i")}")
        dims
      }
      ColSpec(
        name = name,
        code = code, repeat = repeat,
        scale = cards.get(s"TSCAL$i").map(_.toDouble),
        zero = cards.get(s"TZERO$i").map(_.toDouble),
        tnull = cards.get(s"TNULL$i").map(_.toLong),
        varDesc = varDesc,
        tdim = tdim)
    }
    val width = cols.map(_.byteWidth).sum
    require(width == rowBytes,
      s"Declared NAXIS1=$rowBytes but TFORMs sum to $width bytes")
    TableSpec(rowBytes, nRows, cols,
      cards.get("THEAP").map(_.toLong).getOrElse(rowBytes.toLong * nRows))
  }

  private val AsciiTformRe = "^([AIFED])([0-9]+)(?:\\.[0-9]+)?$".r

  /** ASCII TABLE header → spec (FITS 4.0 §7.2). */
  def asciiTableSpec(cards: Map[String, String]): AsciiTableSpec = {
    require(cards.get("XTENSION").exists(_.trim == "TABLE"),
      s"Not an ASCII TABLE extension: ${cards.get("XTENSION")}")
    val rowBytes = cards("NAXIS1").toInt
    val nRows = cards("NAXIS2").toLong
    val nFields = cards("TFIELDS").toInt
    val used = scala.collection.mutable.Set.empty[String]
    val cols = (1 to nFields).map { i =>
      val (code, width) = cards(s"TFORM$i").trim match {
        case AsciiTformRe(c, w) => (c.head, w.toInt)
        case other => throw new IllegalArgumentException(
          s"Unsupported ASCII TFORM '$other'")
      }
      val start0 = cards(s"TBCOL$i").trim.toInt - 1
      require(start0 >= 0 && start0 + width <= rowBytes,
        s"TBCOL$i/TFORM$i field [$start0, ${start0 + width}) outside NAXIS1=$rowBytes")
      val rawName = cards.getOrElse(s"TTYPE$i", s"col$i")
      var name = rawName
      var k = 2
      while (used(name)) { name = s"${rawName}_$k"; k += 1 }
      used += name
      AsciiColSpec(name, code, start0, width,
        scale = cards.get(s"TSCAL$i").map(_.toDouble),
        zero = cards.get(s"TZERO$i").map(_.toDouble),
        tnullStr = cards.get(s"TNULL$i").map(_.trim))
    }
    AsciiTableSpec(rowBytes, nRows, cols)
  }

  /** ZTABLE=T header → tiled spec. Logical columns come from ZFORMn (same
    * grammar as TFORMn, scalar numeric or wA only); the stored columns
    * must be the convention's 1PB byte descriptors. ZCTYPn defaults to
    * NOCOMPRESS when absent.
    */
  def tiledTableSpec(cards: Map[String, String]): TiledTableSpec = {
    require(cards.get("XTENSION").exists(_.startsWith("BINTABLE")),
      s"Not a BINTABLE extension: ${cards.get("XTENSION")}")
    // reject-contract: a truncated ZTABLE header (card absent) must raise
    // IllegalArgumentException like every other malformed header, not a
    // bare NoSuchElementException from Map.apply
    def req(key: String): String = cards.getOrElse(key,
      throw new IllegalArgumentException(
        s"tiled table header is missing required card $key"))
    val storedRowBytes = req("NAXIS1").toInt
    val nTiles = req("NAXIS2").toLong
    val nFields = req("TFIELDS").toInt
    val tileLen = req("ZTILELEN").toLong
    val zRows = req("ZNAXIS2").toLong
    require(tileLen > 0, s"ZTILELEN must be positive, got $tileLen")
    require(nTiles == (zRows + tileLen - 1) / tileLen,
      s"NAXIS2=$nTiles tiles inconsistent with ZNAXIS2=$zRows/ZTILELEN=$tileLen")
    val used = scala.collection.mutable.Set.empty[String]
    val cols = (1 to nFields).map { i =>
      require(req(s"TFORM$i").trim == "1PB" ||
        req(s"TFORM$i").trim.startsWith("1PB("),
        s"tiled table stored TFORM$i must be 1PB, got ${req(s"TFORM$i")}")
      val (code, repeat, varDesc) = parseTform(req(s"ZFORM$i"))
      require(varDesc.isEmpty, s"ZFORM$i: variable-length logical columns " +
        "cannot be tile-compressed")
      require(code == 'A' || repeat <= 1,
        s"ZFORM$i=${req(s"ZFORM$i")}: only scalar numeric or wA logical " +
          "columns are supported in tiled tables")
      // repeat == 0 ('0E') is legal and decodes as an all-NULL column,
      // matching decodeBin's zero-repeat rule for plain bintables
      val rawName = cards.getOrElse(s"TTYPE$i", s"col$i")
      var name = rawName
      var k = 2
      while (used(name)) { name = s"${rawName}_$k"; k += 1 }
      used += name
      ColSpec(name = name, code = code, repeat = repeat,
        scale = cards.get(s"TSCAL$i").map(_.toDouble),
        zero = cards.get(s"TZERO$i").map(_.toDouble),
        tnull = cards.get(s"TNULL$i").map(_.toLong))
    }
    require(storedRowBytes == nFields * 8,
      s"NAXIS1=$storedRowBytes but $nFields 1PB descriptors need ${nFields * 8}")
    val zctyp = (1 to nFields).map(i =>
      cards.getOrElse(s"ZCTYP$i", "NOCOMPRESS").trim)
    val zRowBytes = cards.get("ZNAXIS1").map(_.toInt)
      .getOrElse(cols.map(c => c.repeat * c.elemBytes).sum)
    require(zRowBytes == cols.map(c => c.repeat * c.elemBytes).sum,
      s"ZNAXIS1=$zRowBytes but ZFORMs sum to " +
        s"${cols.map(c => c.repeat * c.elemBytes).sum} bytes")
    TiledTableSpec(storedRowBytes, nTiles, tileLen, zRows, zRowBytes, cols,
      zctyp, cards.get("THEAP").map(_.toLong)
        .getOrElse(storedRowBytes.toLong * nTiles))
  }

  /** Header cards of either table flavor → spec. */
  def anySpec(cards: Map[String, String]): HduSpec =
    if (cards.get("XTENSION").exists(_.trim == "TABLE")) asciiTableSpec(cards)
    else if (cards.get("ZTABLE").exists(_.trim == "T")) tiledTableSpec(cards)
    else tableSpec(cards)

  /** Decodes one ASCII TABLE field from a row's character record. Blank
    * fields and TNULL matches are SQL NULL; Fortran 'D' exponents are
    * accepted for D columns.
    */
  def decodeAsciiField(rowChars: String, c: AsciiColSpec): Any = {
    val raw = rowChars.substring(c.start0,
      math.min(c.start0 + c.width, rowChars.length))
    val s = raw.trim
    if (s.isEmpty || c.tnullStr.contains(s)) null
    else c.code match {
      // character fields: only TRAILING blanks are insignificant (FITS
      // 4.0); leading spaces are data and must survive
      case 'A' => trimTrailing(raw)
      case 'I' =>
        val v = s.toLong
        if (c.hasScaling) v * c.scale.getOrElse(1.0) + c.zero.getOrElse(0.0) else v
      case _ =>
        val v = s.replace('D', 'E').replace('d', 'e').toDouble
        if (c.hasScaling) v * c.scale.getOrElse(1.0) + c.zero.getOrElse(0.0) else v
    }
  }

  // ------------------------------------------------------------ image HDUs

  /** A 2-d or 3-d IMAGE HDU (primary array or XTENSION='IMAGE'): the
    * astronomy-native raster — BITPIX fixes the element type (8/16/32/64
    * big-endian ints, -32/-64 IEEE floats; 8 is UNSIGNED per FITS 4.0),
    * BSCALE/BZERO the linear physical scaling (the TSCAL/TZERO of
    * images), BLANK the integer missing-pixel sentinel (floats use NaN,
    * FITS 4.0 §5.3). NAXIS3 > 1 is the spectral-cube shape archives ship
    * (plane z = one frequency/velocity slice); `depth` = 1 for plain
    * frames. Row y of plane z occupies bytes
    * [dataOffset + (z·height + y)·rowBytes, …) — rows stay independently
    * addressable across planes, which is what makes a single huge cube
    * scan in parallel (the table reader's row-range-split argument).
    */
  /** Linear WCS (the CRPIXn/CRVALn/CDELTn cards — the axis mapping every
    * archive header carries; rotation/projection terms are out of scope
    * for this engine's cutout service): world = CRVAL + (p − CRPIX)·CDELT
    * with p the 1-BASED pixel index per the FITS convention; this
    * engine's row/column indices are 0-based, so the accessors convert.
    * The inverse (a sky box → the pixel range whose CENTERS fall in the
    * closed world interval) handles either CDELT sign — RA axes
    * conventionally run negative — by sorting the fractional endpoints
    * before the ceil/floor cut.
    */
  final case class Wcs(crpix1: Double, crval1: Double, cdelt1: Double,
      crpix2: Double, crval2: Double, cdelt2: Double,
      // the optional SPECTRAL axis of a NAXIS=3 cube (CRPIX3/CRVAL3/
      // CDELT3 — velocity/frequency per plane): present only when all
      // three cards parse, same partial-WCS refusal rule as axes 1-2
      axis3: Option[(Double, Double, Double)] = None) {
    /** World coordinate of 0-based column x's center. */
    def world1(x: Long): Double = crval1 + (x + 1 - crpix1) * cdelt1
    /** World coordinate of 0-based row y's center. */
    def world2(y: Long): Double = crval2 + (y + 1 - crpix2) * cdelt2
    /** World coordinate of 0-based plane z's center (spectral axis). */
    def world3(z: Long): Double = {
      val (p3, v3, d3) = axis3.getOrElse(throw new IllegalArgumentException(
        "cube carries no spectral WCS axis"))
      v3 + (z + 1 - p3) * d3
    }
    /** 0-based inclusive column range with centers in [wLo, wHi]. */
    def xRange(wLo: Double, wHi: Double, width: Long): Option[(Long, Long)] =
      Wcs.axisRange(wLo, wHi, crpix1, crval1, cdelt1, width)
    /** 0-based inclusive row range with centers in [wLo, wHi]. */
    def yRange(wLo: Double, wHi: Double, height: Long): Option[(Long, Long)] =
      Wcs.axisRange(wLo, wHi, crpix2, crval2, cdelt2, height)
    /** 0-based inclusive plane range with centers in [wLo, wHi]. */
    def zRange(wLo: Double, wHi: Double, depth: Long): Option[(Long, Long)] =
      axis3.flatMap { case (p3, v3, d3) =>
        Wcs.axisRange(wLo, wHi, p3, v3, d3, depth)
      }
  }

  object Wcs {
    /** One axis of the sky→pixel box map, clamped to [1, n]; None when
      * the box misses the frame entirely. Exactness note: on the planted
      * fixtures every quantity here is a dyadic rational (CDELT = ±2⁻⁸,
      * integer CRPIX, box endpoints ON pixel centers), so the divisions
      * and the ceil/floor land on exact doubles and the box is
      * bit-reproducible in any engine — the property the a34 oracle
      * gates; arbitrary survey headers get correctly-rounded doubles,
      * which is what a real cutout service computes too.
      */
    private[fits] def axisRange(wLo: Double, wHi: Double, crpix: Double,
        crval: Double, cdelt: Double, n: Long): Option[(Long, Long)] = {
      require(cdelt != 0.0, "degenerate WCS: CDELT = 0")
      require(wLo <= wHi, s"world box inverted: [$wLo, $wHi]")
      val p1 = (wLo - crval) / cdelt + crpix
      val p2 = (wHi - crval) / cdelt + crpix
      val lo = math.max(math.ceil(math.min(p1, p2)).toLong, 1L)
      val hi = math.min(math.floor(math.max(p1, p2)).toLong, n)
      if (lo > hi) None else Some((lo - 1, hi - 1)) // back to 0-based
    }

    /** CD-matrix WCS (CDi_j cards — the rotated-frame convention real
      * survey products carry; PC + CDELT composes to the same matrix),
      * optionally behind a gnomonic projection (CTYPE RA---TAN /
      * DEC--TAN): present only when all four CD cards + both reference
      * cards parse (the same partial-WCS refusal rule as the linear
      * path). The projection is parsed EXPLICITLY from the CTYPE
      * algorithm code and whitelisted: no code = linear, TAN = gnomonic;
      * any OTHER code (TAN-SIP, TPV, SIN, ZEA, ARC, …) parses into an
      * `unsupportedProj` marker whose sky↔pixel accessors refuse loudly
      * — silently treating a foreign projection as linear would return
      * wrong pixels with no error. A mixed CTYPE pair (two different
      * codes) is malformed → None, never a guess.
      */
    private[graft] def cdTanOf(cards: Map[String, String]): Option[CdTanWcs] = {
      def num(key: String): Option[Double] =
        cards.get(key).flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      val pc1 = projCode(cards, "CTYPE1"); val pc2 = projCode(cards, "CTYPE2")
      if (pc1 != pc2) None // mixed projection pair = malformed header
      else for {
        p1 <- num("CRPIX1"); v1 <- num("CRVAL1")
        p2 <- num("CRPIX2"); v2 <- num("CRVAL2")
        c11 <- num("CD1_1"); c12 <- num("CD1_2")
        c21 <- num("CD2_1"); c22 <- num("CD2_2")
        if c11 * c22 - c12 * c21 != 0.0 // singular matrix = malformed
      } yield CdTanWcs(p1, v1, p2, v2, c11, c12, c21, c22,
        tan = pc1.contains("TAN"),
        unsupportedProj = pc1.filterNot(Set("TAN")))
    }

    /** The projection ALGORITHM code of a CTYPE card: the dash-separated
      * segments after the padded coordinate name ('RA---TAN' → Some(TAN),
      * 'RA---TAN-SIP' → Some(TAN-SIP), 'DEC--ZEA' → Some(ZEA); a bare
      * coordinate name or an absent card → None = linear axis).
      */
    private[graft] def projCode(cards: Map[String, String],
        key: String): Option[String] =
      cards.get(key).flatMap { raw =>
        val segs = raw.replace("'", "").trim.split('-').filter(_.nonEmpty)
        if (segs.length <= 1) None else Some(segs.drop(1).mkString("-"))
      }

    /** The six linear cards, when ALL are present AND numeric (partial
      * or malformed WCS = none: a cutout service must not guess missing
      * axes — and a junk CRPIX value must degrade the ADVISORY metadata
      * to "no WCS", not crash every plain pixel read of the file, since
      * imageSpec/tiledImageSpec parse it unconditionally; the
      * sky-addressed path then refuses loudly with its no-WCS error).
      */
    private[graft] def of(cards: Map[String, String]): Option[Wcs] = {
      def num(key: String): Option[Double] =
        cards.get(key).flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      // a SKY-axis CTYPE that declares ANY projection algorithm makes
      // the plain linear inversion wrong pixels (even TAN — the CD path
      // owns that case): degrade to no-WCS so the sky-addressed linear
      // path refuses with its loud no-WCS error instead of guessing.
      // CTYPE3 is deliberately NOT checked: algorithm codes on a cube's
      // third axis are spectral reference frames (FREQ-LSR, VELO-HEL,
      // WAVE-F2W…), not sky projections — those axes ARE linear in the
      // stored coordinate, and refusing them would silently strip the
      // (valid) axis-1/2 WCS from every velocity cube
      if (Seq("CTYPE1", "CTYPE2")
            .exists(k => projCode(cards, k).nonEmpty)) return None
      val a3 = for {
        p3 <- num("CRPIX3"); v3 <- num("CRVAL3"); d3 <- num("CDELT3")
      } yield (p3, v3, d3)
      for {
        p1 <- num("CRPIX1"); v1 <- num("CRVAL1"); d1 <- num("CDELT1")
        p2 <- num("CRPIX2"); v2 <- num("CRVAL2"); d2 <- num("CDELT2")
      } yield Wcs(p1, v1, d1, p2, v2, d2, a3)
    }
  }

  /** CD-matrix WCS with optional gnomonic (TAN) projection: the
    * pixel→world map is world = project(CD · (p − CRPIX)) with p
    * 1-BASED; the inverse applies the exact adjugate/det matrix
    * inverse (dyadic-exact on the planted rotation fixtures — the a34
    * argument extended to non-axis-aligned frames). TAN follows the
    * standard gnomonic forms (intermediate coordinates in DEGREES);
    * trig is correctly-rounded-ish libm on both engines, so TAN
    * consumers must keep their integer cuts away from pixel-center
    * boundaries (a39 plants quarter-pixel request corners; the spec
    * asserts the margin).
    */
  final case class CdTanWcs(crpix1: Double, crval1: Double,
      crpix2: Double, crval2: Double,
      cd11: Double, cd12: Double, cd21: Double, cd22: Double,
      tan: Boolean,
      // a recognized-but-UNSUPPORTED projection code (TAN-SIP, TPV,
      // SIN, ZEA, …): the cards parsed, so plain pixel reads keep their
      // advisory metadata, but every sky↔pixel use refuses loudly — a
      // foreign projection treated as linear returns WRONG pixels with
      // no error, the exact failure the "never a guess" rule exists for
      unsupportedProj: Option[String] = None) {
    private val det = cd11 * cd22 - cd12 * cd21
    private def requireSupported(): Unit =
      unsupportedProj.foreach { p =>
        throw new IllegalArgumentException(
          s"unsupported WCS projection '$p' (supported: linear, TAN) - " +
            "refusing the sky-addressed path rather than guessing pixels")
      }
    /** World coordinates of the 0-based FRACTIONAL pixel (x, y). */
    def worldAt(x: Double, y: Double): (Double, Double) = {
      requireSupported()
      val dx = x + 1 - crpix1
      val dy = y + 1 - crpix2
      val xi = cd11 * dx + cd12 * dy
      val eta = cd21 * dx + cd22 * dy
      if (!tan) (crval1 + xi, crval2 + eta) else tanToSky(xi, eta)
    }
    /** World coordinates of 0-based pixel (x, y)'s center. */
    def world(x: Long, y: Long): (Double, Double) =
      worldAt(x.toDouble, y.toDouble)
    /** FRACTIONAL 1-based pixel of a world position (the inverse). */
    def pix(w1: Double, w2: Double): (Double, Double) = {
      requireSupported()
      val (xi, eta) = if (!tan) (w1 - crval1, w2 - crval2)
        else skyToTan(w1, w2)
      val dx = (cd22 * xi - cd12 * eta) / det
      val dy = (-cd21 * xi + cd11 * eta) / det
      (crpix1 + dx, crpix2 + dy)
    }
    // gnomonic deprojection: intermediate (ξ, η) degrees → (RA, Dec)
    private def tanToSky(xiDeg: Double, etaDeg: Double): (Double, Double) = {
      val xi = math.toRadians(xiDeg); val eta = math.toRadians(etaDeg)
      val a0 = math.toRadians(crval1); val d0 = math.toRadians(crval2)
      val rho = math.sqrt(xi * xi + eta * eta)
      if (rho == 0.0) (crval1, crval2)
      else {
        val c = math.atan(rho)
        val dec = math.asin(math.cos(c) * math.sin(d0) +
          eta * math.sin(c) * math.cos(d0) / rho)
        val ra = a0 + math.atan2(xi * math.sin(c),
          rho * math.cos(d0) * math.cos(c) -
            eta * math.sin(d0) * math.sin(c))
        (math.toDegrees(ra), math.toDegrees(dec))
      }
    }
    // gnomonic projection: (RA, Dec) → intermediate (ξ, η) degrees
    private def skyToTan(raDeg: Double, decDeg: Double): (Double, Double) = {
      val a = math.toRadians(raDeg); val d = math.toRadians(decDeg)
      val a0 = math.toRadians(crval1); val d0 = math.toRadians(crval2)
      val cosc = math.sin(d0) * math.sin(d) +
        math.cos(d0) * math.cos(d) * math.cos(a - a0)
      require(cosc > 0.0, "position is behind the TAN projection plane")
      val xi = math.cos(d) * math.sin(a - a0) / cosc
      val eta = (math.cos(d0) * math.sin(d) -
        math.sin(d0) * math.cos(d) * math.cos(a - a0)) / cosc
      (math.toDegrees(xi), math.toDegrees(eta))
    }
  }

  final case class ImageSpec(bitpix: Int, width: Long, height: Long,
      bscale: Double, bzero: Double, blank: Option[Long], dataOffset: Long,
      depth: Long = 1L, wcs: Option[Wcs] = None,
      wcsCd: Option[CdTanWcs] = None) {
    def bytesPerPx: Int = math.abs(bitpix) / 8
    def rowBytes: Long = width * bytesPerPx
    /** Byte offset of (plane z, row y) — the one addressing rule. */
    def rowOffset(z: Long, y: Long): Long = dataOffset + (z * height + y) * rowBytes
  }

  def imageSpec(cards: Map[String, String], dataOffset: Long): ImageSpec = {
    val naxis = cards.getOrElse("NAXIS", "0").toInt
    require(naxis == 2 || naxis == 3,
      s"not a 2-d/3-d image HDU: NAXIS=${cards.getOrElse("NAXIS", "0")}")
    ImageSpec(cards("BITPIX").toInt,
      cards("NAXIS1").toLong, cards("NAXIS2").toLong,
      cards.get("BSCALE").map(_.toDouble).getOrElse(1.0),
      cards.get("BZERO").map(_.toDouble).getOrElse(0.0),
      cards.get("BLANK").map(_.trim.toLong), dataOffset,
      if (naxis == 3) cards("NAXIS3").toLong else 1L,
      Wcs.of(cards), Wcs.cdTanOf(cards))
  }

  /** Locates the n-th 2-d/3-d IMAGE HDU (the primary array counts as
    * image 0 when it carries data; header-only primaries are skipped) —
    * the image counterpart of `locateTable`, sharing its HDU walk.
    */
  def locateImage(in: java.io.DataInput, imgnum: Int): ImageSpec = {
    var offset = 0L
    var imagesSeen = 0
    var hduIndex = 0 // only for the primary-HDU-counts-as-image-0 rule
    // no HDU cap — the locateTable argument: ≥ one block consumed per
    // iteration, EOF (converted below) bounds the walk
    while (true) {
      // end of file during a header read = walked past the last HDU:
      // report the missing image, not a bare EOF. (The cause is attached
      // and the message covers both readings: FITS files end cleanly at
      // block boundaries, so EOF here usually means "fewer HDUs than
      // requested", but a file truncated mid-header lands here too.)
      val (cards, headerBytes) =
        try readHeader(in)
        catch { case e: java.io.EOFException =>
          throw new IllegalArgumentException(
            s"No 2-d/3-d image HDU #$imgnum found ($imagesSeen image HDUs " +
              "in file) — or the file is truncated mid-HDU", e)
        }
      offset += headerBytes
      val dataBytes = dataUnitBytes(cards)
      val padded = ((dataBytes + BlockSize - 1) / BlockSize) * BlockSize
      val naxis = cards.getOrElse("NAXIS", "0").toInt
      val isImage = (naxis == 2 || naxis == 3) &&
        (hduIndex == 0 || cards.get("XTENSION").exists(_.trim == "IMAGE"))
      if (isImage) {
        if (imagesSeen == imgnum) return imageSpec(cards, offset)
        imagesSeen += 1
      }
      var toSkip = padded
      while (toSkip > 0) {
        val n = in.skipBytes(math.min(toSkip, Int.MaxValue.toLong).toInt)
        if (n <= 0) throw new java.io.EOFException("Unexpected EOF skipping FITS data")
        toSkip -= n
      }
      offset += padded
      hduIndex += 1
    }
    throw new IllegalStateException("unreachable: the walk exits via return or EOF")
  }

  /** Tile-compressed IMAGE (the fpack DEFAULT shape, ZIMAGE=T — a18's
    * ZTABLE=T covers compressed TABLES; this is the compressed-raster
    * convention an archive serves first): the image is stored as a
    * BINTABLE whose rows are row-band tiles — one 1PB COMPRESSED_DATA
    * cell per tile holding `tileRows` full image rows compressed per
    * ZCMPTYPE (GRAFT_RICE_1 for integers, GZIP_2 shuffled floats). The
    * logical raster geometry lives in ZBITPIX/ZNAXISn/ZTILEn; BSCALE/
    * BZERO scale the DECOMPRESSED values and ZBLANK is the integer
    * missing-pixel sentinel (the BLANK of a compressed image, per the
    * public tiled-image convention). Tiles are the split unit: each
    * decompresses independently, so one huge compressed frame scans in
    * parallel exactly like a19's row-range splits — the property whole-
    * file gzip (a17) cannot give.
    */
  final case class TiledImageSpec(zbitpix: Int, width: Long, height: Long,
      tileRows: Int, cmpType: String, bscale: Double, bzero: Double,
      blank: Option[Long], dataOffset: Long, nTiles: Long, theap: Long,
      recordBytes: Int = 8, quant: Boolean = false, depth: Long = 1L,
      wcs: Option[Wcs] = None, wcsCd: Option[CdTanWcs] = None) {
    def bytesPerPx: Int = math.abs(zbitpix) / 8
    /** Byte offset of tile t's stored record — the (length, heapOffset)
      * 1PB descriptor, followed in the QUANTIZED layout by that tile's
      * ZSCALE and ZZERO doubles (record = 8 + 16 bytes).
      */
    def descOffset(t: Long): Long = dataOffset + t * recordBytes
    def heapStart: Long = dataOffset + theap
    /** Row-band tiles per plane; a 2-d frame is the depth=1 case, so
      * every 2-d accessor below reduces to the pre-cube form there.
      */
    def tilesPerPlane: Long = (height + tileRows - 1) / tileRows
    /** The plane tile t's rows belong to (always 0 for 2-d frames):
      * tiles are stored plane-major, ZTILE3 = 1 — one plane per tile,
      * the fpack cube convention this reader supports.
      */
    def planeOf(t: Long): Long = t / tilesPerPlane
    /** Image rows in tile t (the last band of each plane may be short). */
    def rowsInTile(t: Long): Int = {
      val band = t % tilesPerPlane
      math.min(tileRows.toLong, height - band * tileRows).toInt
    }
    /** First image row (within its plane) of tile t. */
    def firstRowInPlane(t: Long): Long = (t % tilesPerPlane) * tileRows
  }

  def tiledImageSpec(cards: Map[String, String], dataOffset: Long): TiledImageSpec = {
    require(cards.get("ZIMAGE").exists(_.trim == "T"),
      s"not a tile-compressed image HDU: ZIMAGE=${cards.get("ZIMAGE")}")
    val znaxis = cards.getOrElse("ZNAXIS", "0").trim.toInt
    require(znaxis == 2 || znaxis == 3,
      s"tiled image reader covers 2-d frames and 3-d cubes; ZNAXIS=${cards.get("ZNAXIS")}")
    val width = cards("ZNAXIS1").toLong
    val height = cards("ZNAXIS2").toLong
    val depth = if (znaxis == 3) cards("ZNAXIS3").toLong else 1L
    val tile1 = cards.get("ZTILE1").map(_.toLong).getOrElse(width)
    require(tile1 == width,
      s"tiled image reader requires row-band tiles (ZTILE1=NAXIS1); got ZTILE1=$tile1 for width $width")
    val tileRows = cards.get("ZTILE2").map(_.toInt).getOrElse(1)
    // cubes tile per plane (ZTILE3 = 1, the fpack cube convention): a
    // tile never straddles planes, so every tile decodes independently
    // with the 2-d addressing below — the property the splits rely on
    val tile3 = cards.get("ZTILE3").map(_.toLong).getOrElse(1L)
    require(znaxis == 2 || tile3 == 1L,
      s"tiled cube reader requires per-plane tiles (ZTILE3=1); got ZTILE3=$tile3")
    val tilesPerPlane = (height + tileRows - 1) / tileRows
    val nTiles = cards("NAXIS2").toLong
    require(nTiles == depth * tilesPerPlane,
      s"tile accounting: NAXIS2=$nTiles stored tiles for height $height × " +
        s"depth $depth at ZTILE2=$tileRows")
    val theap = cards.get("THEAP").map(_.toLong)
      .getOrElse(cards("NAXIS1").toLong * nTiles)
    val recordBytes = cards("NAXIS1").toInt
    // the lossy-quantized float layout (fpack's float default): the
    // stored row carries per-tile ZSCALE/ZZERO doubles beside the data
    // descriptor, and ZQUANTIZ names the (dither-free) quantizer
    val quant = cards.get("ZQUANTIZ").exists(_.trim.nonEmpty)
    require(recordBytes == (if (quant) 24 else 8),
      s"tiled image record: NAXIS1=$recordBytes for quant=$quant " +
        "(supported layouts: [1PB] and [1PB, ZSCALE 1D, ZZERO 1D])")
    TiledImageSpec(cards("ZBITPIX").toInt, width, height, tileRows,
      cards("ZCMPTYPE").trim,
      cards.get("BSCALE").map(_.toDouble).getOrElse(1.0),
      cards.get("BZERO").map(_.toDouble).getOrElse(0.0),
      cards.get("ZBLANK").map(_.trim.toLong), dataOffset, nTiles, theap,
      recordBytes, quant, depth, Wcs.of(cards), Wcs.cdTanOf(cards))
  }

  /** Locates the n-th tile-compressed IMAGE HDU (a BINTABLE extension
    * carrying ZIMAGE=T) — `locateImage`'s walk with the compressed-image
    * predicate; plain IMAGE HDUs and ordinary/ZTABLE bintables are
    * walked over, so mixed archives address each shape independently.
    */
  def locateTiledImage(in: java.io.DataInput, imgnum: Int): TiledImageSpec = {
    var offset = 0L
    var seen = 0
    while (true) {
      val (cards, headerBytes) =
        try readHeader(in)
        catch { case e: java.io.EOFException =>
          throw new IllegalArgumentException(
            s"No tile-compressed image HDU #$imgnum found ($seen in file) " +
              "— or the file is truncated mid-HDU", e)
        }
      offset += headerBytes
      val dataBytes = dataUnitBytes(cards)
      val padded = ((dataBytes + BlockSize - 1) / BlockSize) * BlockSize
      val isTiledImage = cards.get("XTENSION").exists(_.startsWith("BINTABLE")) &&
        cards.get("ZIMAGE").exists(_.trim == "T")
      if (isTiledImage) {
        if (seen == imgnum) return tiledImageSpec(cards, offset)
        seen += 1
      }
      var toSkip = padded
      while (toSkip > 0) {
        val n = in.skipBytes(math.min(toSkip, Int.MaxValue.toLong).toInt)
        if (n <= 0) throw new java.io.EOFException("Unexpected EOF skipping FITS data")
        toSkip -= n
      }
      offset += padded
    }
    throw new IllegalStateException("unreachable: the walk exits via return or EOF")
  }

  /** The HDU data-unit size rule (FITS 4.0 §4.4.1.1) — shared by the
    * table and image walks.
    */
  private[fits] def dataUnitBytes(cards: Map[String, String]): Long = {
    val naxis = cards.getOrElse("NAXIS", "0").toInt
    if (naxis == 0) 0L
    else {
      val bitpix = math.abs(cards.getOrElse("BITPIX", "8").toLong)
      val dims = (1 to naxis).map(i => cards(s"NAXIS$i").toLong)
      val pcount = cards.getOrElse("PCOUNT", "0").toLong
      val gcount = cards.getOrElse("GCOUNT", "1").toLong
      gcount * (pcount + dims.product) * (bitpix / 8)
    }
  }

  /** Locates the target table extension (BINTABLE or ASCII TABLE):
    * returns (cards, dataStartOffset). Walks HDUs sequentially, skipping
    * each HDU's (2880-padded) data unit. `extnum` counts table extensions
    * of either flavor in file order.
    */
  /** One walked HDU: header cards plus its exact byte geometry (data
    * length is block-padded — the on-disk extent, not the logical one).
    */
  final case class HduLoc(cards: Map[String, String], headerStart: Long,
    headerBytes: Long, dataBytes: Long)

  /** Walks EVERY HDU in the stream with BYTE ACCOUNTING against the
    * known stream length — the archive fits_info / inventory primitive
    * behind a23/a24. The end-of-walk decision is `consumed ==
    * totalBytes`, never a swallowed EOF: a file truncated inside a
    * header OR a data unit throws (readFully / the remaining-bytes
    * check), so a damaged file can never read as a shorter valid one,
    * and a complete file of ANY HDU count walks fully (no silent cap —
    * progress is ≥ one block per iteration, so the loop is bounded by
    * the stream length itself).
    */
  def walkHdus(in: java.io.DataInput, totalBytes: Long): Seq[HduLoc] = {
    val out = Seq.newBuilder[HduLoc]
    var consumed = 0L
    while (consumed < totalBytes) {
      if (totalBytes - consumed < BlockSize)
        throw new java.io.EOFException(
          s"FITS stream has ${totalBytes - consumed} trailing bytes — not a header block")
      val (cards, headerBytes) = readHeader(in)
      val dataBytes = dataUnitBytes(cards)
      val padded = ((dataBytes + BlockSize - 1) / BlockSize) * BlockSize
      out += HduLoc(cards, consumed, headerBytes, padded)
      var toSkip = padded
      while (toSkip > 0) {
        val k = in.skipBytes(math.min(toSkip, Int.MaxValue.toLong).toInt)
        if (k <= 0)
          throw new java.io.EOFException("Unexpected EOF skipping FITS data")
        toSkip -= k
      }
      consumed += headerBytes + padded
    }
    out.result()
  }

  /** Cards-only view of `walkHdus` (a23's inventory shape). */
  def listHdus(in: java.io.DataInput, totalBytes: Long): Seq[Map[String, String]] =
    walkHdus(in, totalBytes).map(_.cards)

  def locateTable(in: java.io.DataInput, extnum: Int): (Map[String, String], Long) = {
    var offset = 0L
    var bintablesSeen = 0
    // no HDU cap (the walkHdus argument): every iteration consumes at
    // least one 2880-byte block or throws EOF, so the stream length
    // bounds the walk — the former `< 100` "defensive bound" made
    // extensions past HDU 100 (large mosaic cameras) unreachable
    while (true) {
      // same EOF→not-found conversion as locateImage: a file with fewer
      // table HDUs than `extnum` is a user error, not a corrupt stream
      val (cards, headerBytes) =
        try readHeader(in)
        catch { case e: java.io.EOFException =>
          throw new IllegalArgumentException(
            s"No table extension #$extnum found ($bintablesSeen table HDUs " +
              "in file) — or the file is truncated mid-HDU", e)
        }
      offset += headerBytes
      val dataBytes = dataUnitBytes(cards)
      val padded = ((dataBytes + BlockSize - 1) / BlockSize) * BlockSize
      val isTable = cards.get("XTENSION").exists(x =>
        x.startsWith("BINTABLE") || x.trim == "TABLE")
      if (isTable) {
        if (bintablesSeen == extnum) return (cards, offset)
        bintablesSeen += 1
      }
      // skip the data unit
      var toSkip = padded
      while (toSkip > 0) {
        val n = in.skipBytes(math.min(toSkip, Int.MaxValue.toLong).toInt)
        if (n <= 0) throw new java.io.EOFException("Unexpected EOF skipping FITS data")
        toSkip -= n
      }
      offset += padded
    }
    throw new IllegalStateException("unreachable: the walk exits via return or EOF")
  }

  /** Back-compat alias (pre-ASCII-TABLE name). */
  def locateBintable(in: java.io.DataInput, extnum: Int): (Map[String, String], Long) =
    locateTable(in, extnum)

  // ------------------------------------------------------------ cell decode

  /** Decodes one scalar element at absolute position `pos` in `buf`,
    * returning the raw (unscaled) value as Spark-internal scalar, or null
    * (TNULL sentinel / float NaN policy).
    */
  def decodeElem(buf: ByteBuffer, pos: Int, c: ColSpec): Any = c.code match {
    case 'L' => buf.get(pos) match { // FITS 4.0: 'T', 'F', 0x00 = undefined
      case 0x54 => true
      case 0x46 => false
      case _ => null
    }
    case 'B' =>
      val raw = (buf.get(pos) & 0xff).toShort
      if (c.tnull.exists(_ == raw.toLong)) null
      else if (c.isUnsignedIdiom) (raw - 128).toShort // TZERO=-128 signed-byte idiom
      else raw
    case 'I' =>
      val raw = buf.getShort(pos)
      if (c.tnull.exists(_ == raw.toLong)) null
      else if (c.isUnsignedIdiom) (raw.toInt + 32768) // widen unsigned
      else raw
    case 'J' =>
      val raw = buf.getInt(pos)
      if (c.tnull.exists(_ == raw.toLong)) null
      else if (c.isUnsignedIdiom) raw.toLong + 2147483648L
      else raw
    case 'K' =>
      val raw = buf.getLong(pos)
      if (c.tnull.exists(_ == raw)) null
      else if (c.isUnsignedIdiom)
        Decimal(java.math.BigDecimal.valueOf(raw).add(java.math.BigDecimal.valueOf(2).pow(63)), 20, 0)
      else raw
    case 'E' =>
      val v = buf.getFloat(pos)
      if (v.isNaN || v.isInfinite) null else v // fits2db float policy (§1.2)
    case 'D' =>
      val v = buf.getDouble(pos)
      if (v.isNaN || v.isInfinite) null else v
    case 'C' =>
      org.apache.spark.sql.catalyst.InternalRow(buf.getFloat(pos), buf.getFloat(pos + 4))
    case 'M' =>
      org.apache.spark.sql.catalyst.InternalRow(buf.getDouble(pos), buf.getDouble(pos + 8))
    case other => throw new IllegalStateException(s"decodeElem on '$other'")
  }

  /** Applies TSCAL/TZERO linear scaling to a raw scalar (→ Double). */
  def applyScale(raw: Any, c: ColSpec): Any = {
    if (raw == null) null
    else {
      val d = raw match {
        case s: Short => s.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case f: Float => f.toDouble
        case d: Double => d
      }
      d * c.scale.getOrElse(1.0) + c.zero.getOrElse(0.0)
    }
  }
}
