package graft.tebis

import java.nio.charset.Charset

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** One datapoint in long form: the engine's core record.
  * Reference: tuple `(timestamp_ms, value)` keyed by externalId
  * (/root/reference/csv-extractor/csv_extractor.py:92-104,158).
  */
case class Datapoint(externalId: String, timestampMs: Long, value: Double)

/** `(timestampMs, value)` pair inside one series column. */
case class DatapointValue(timestampMs: Long, value: Double)

/** One parsed header cell: `external_id : name` split on the LAST colon,
  * both sides trimmed (csv_extractor.py:148-149). A cell without a colon
  * yields externalId "" (Python `rpartition` semantics).
  */
case class SeriesHeader(externalId: String, name: String)

/** One value column of a TEBIS file after parsing: header split + the
  * surviving datapoints of that column (empty/unparsable cells dropped,
  * csv_extractor.py:96-102). `colIndex` is the first-occurrence position of
  * this header among the value columns (used for first-wins catalog naming).
  */
case class SeriesColumn(
    externalId: String,
    name: String,
    colIndex: Int,
    datapoints: Seq[DatapointValue])

/** Result of parsing one TEBIS CSV file. `error` is set when the whole file
  * failed (non-integer timestamp, missing timestamp column with data
  * present) — the reference dead-letters the entire file in that case
  * (csv_extractor.py:103 uncaught, 206-219); partial datapoints are
  * discarded, matching the reference (the raise aborts process_csv_file).
  */
case class TebisFile(
    path: String,
    columns: Seq[SeriesColumn],
    error: Option[String]) {
  def headers: Seq[SeriesHeader] =
    columns.map(c => SeriesHeader(c.externalId, c.name))
  def datapoints: Seq[Datapoint] =
    columns.flatMap(c => c.datapoints.map(d => Datapoint(c.externalId, d.timestampMs, d.value)))
  def datapointCount: Long = columns.map(_.datapoints.size.toLong).sum
  /** Distinct series with >=1 surviving datapoint (csv_extractor.py:134,160,172). */
  def seriesCount: Long =
    columns.filter(_.datapoints.nonEmpty).map(_.externalId).distinct.size.toLong
}

/** TEBIS wide-CSV source.
  *
  * Format (reference README.md:11-20): latin-1, `;`-delimited, quote `"`.
  * Physical row 1 = header (first cell EMPTY = timestamp column, then one
  * `external_id : name` cell per series); row 2 = units, always discarded;
  * rows 3..n = data, col 0 epoch SECONDS, value cells with comma decimal
  * separator.
  *
  * Every mode reads TEBIS bytes through [[decode]] (or [[read]], which
  * opens a path and decodes it) and peeks headers with [[headerIds]].
  *
  * Scale design: [[files]] reads through the `binaryFile` source, which
  * packs files into tasks by size (4 MB open cost per file), so small
  * files share a task and a 100 TB corpus spreads across the cluster with
  * no driver-side parsing. Each file is materialized per-task (the
  * reference does the same per-process, csv_extractor.py:115-123); TEBIS
  * files are small micro-batches, so this bounds task memory. The driver
  * only lists paths (Discovery).
  */
object TebisCsv {
  val Delimiter: Char = ';'
  val QuoteChar: Char = '"'
  val Encoding: String = "ISO-8859-1"

  /** Parse CSV content with Python `csv` default-dialect semantics at
    * delimiter ';': quote char `"` only special at field start, doubled
    * quote inside a quoted field is a literal quote, quoted sections may
    * span newlines, `\r\n`/`\n`/`\r` all terminate records, a fully empty
    * line yields NO record (DictReader skips blank rows).
    */
  def parseCsv(content: String): Vector[Vector[String]] = {
    val rows = Vector.newBuilder[Vector[String]]
    var fields = Vector.newBuilder[String]
    val field = new StringBuilder
    var nFields = 0
    var fieldStarted = false // chars (or a quote) seen in current field
    var inQuotes = false
    var i = 0
    val n = content.length
    def endField(): Unit = {
      fields += field.toString; field.clear(); nFields += 1; fieldStarted = false
    }
    def endRow(): Unit = {
      // blank line => zero chars, zero completed fields => no record
      if (nFields > 0 || fieldStarted || field.nonEmpty) {
        endField()
        rows += fields.result()
      }
      fields = Vector.newBuilder[String]; nFields = 0
    }
    while (i < n) {
      val c = content.charAt(i)
      if (inQuotes) {
        if (c == QuoteChar) {
          if (i + 1 < n && content.charAt(i + 1) == QuoteChar) {
            field.append(QuoteChar); i += 1
          } else inQuotes = false // trailing chars (if any) append literally
        } else field.append(c)
      } else c match {
        case Delimiter => endField()
        case '\n' => endRow()
        case '\r' =>
          endRow(); if (i + 1 < n && content.charAt(i + 1) == '\n') i += 1
        case QuoteChar if !fieldStarted =>
          inQuotes = true; fieldStarted = true
        case other =>
          field.append(other); fieldStarted = true
      }
      i += 1
    }
    if (inQuotes || nFields > 0 || fieldStarted || field.nonEmpty) endRow()
    rows.result()
  }

  /** `cell.rpartition(":")` → (before-last-colon, after-last-colon), both
    * stripped (csv_extractor.py:148-149). No colon → externalId "". */
  def splitHeaderCell(cell: String): SeriesHeader = {
    val idx = cell.lastIndexOf(':')
    if (idx < 0) SeriesHeader("", cell.trim)
    else SeriesHeader(cell.substring(0, idx).trim, cell.substring(idx + 1).trim)
  }

  // Python float()/int() grammar, hand-scanned (regex validation was ~60%
  // of single-core parse time): optional sign; inf/infinity/nan names
  // (case-insensitive, float only); digits with single underscores
  // BETWEEN digits; optional fraction and exponent. Rejects Java-isms
  // like "1d"/"0x1p3".

  /** Python's whitespace definition for float()/int()/strip(): includes
    * Unicode space separators (NBSP U+00A0, U+2007, ...) and U+0085,
    * which Java's Character.isWhitespace excludes — relevant for latin-1
    * exports with NBSP padding. */
  private def isPyWhitespace(c: Char): Boolean =
    Character.isWhitespace(c) || c == 0x85.toChar ||
      Character.getType(c) == Character.SPACE_SEPARATOR

  /** Scan `\d(_?\d)*` from `start`; returns end index, or -1 on a
    * malformed underscore. End == start means "no digits here". */
  private def scanDigits(s: String, start: Int, end: Int): Int = {
    var k = start
    var prevDigit = false
    while (k < end) {
      val ch = s.charAt(k)
      if (ch >= '0' && ch <= '9') { prevDigit = true; k += 1 }
      else if (ch == '_') {
        if (!prevDigit || k + 1 >= end) return -1
        val nx = s.charAt(k + 1)
        if (nx < '0' || nx > '9') return -1
        prevDigit = false; k += 1
      } else return k
    }
    k
  }

  private def matchesIgnoreCase(s: String, from: Int, to: Int, word: String): Boolean =
    (to - from == word.length) && {
      var i = 0
      while (i < word.length && (s.charAt(from + i) | 0x20) == word.charAt(i)) i += 1
      i == word.length
    }

  /** Python `float(s)` parity (csv_extractor.py:99): None on ValueError. */
  def parsePythonFloat(raw: String): Option[Double] = {
    var a = 0; var b = raw.length
    while (a < b && isPyWhitespace(raw.charAt(a))) a += 1
    while (b > a && isPyWhitespace(raw.charAt(b - 1))) b -= 1
    if (a >= b) return None
    var i = a
    val c0 = raw.charAt(i)
    val neg = c0 == '-'
    if (c0 == '+' || c0 == '-') i += 1
    if (i >= b) return None
    val c1 = raw.charAt(i) | 0x20
    if (c1 == 'i' || c1 == 'n') {
      return if (matchesIgnoreCase(raw, i, b, "inf") || matchesIgnoreCase(raw, i, b, "infinity"))
        Some(if (neg) Double.NegativeInfinity else Double.PositiveInfinity)
      else if (matchesIgnoreCase(raw, i, b, "nan")) Some(Double.NaN)
      else None
    }
    var sawUnderscore = false
    val intEnd = scanDigits(raw, i, b)
    if (intEnd < 0) return None
    val hadIntDigits = intEnd > i
    var j = intEnd
    var hadFracDigits = false
    if (j < b && raw.charAt(j) == '.') {
      j += 1
      val fracEnd = scanDigits(raw, j, b)
      if (fracEnd < 0) return None
      hadFracDigits = fracEnd > j
      j = fracEnd
    }
    if (!hadIntDigits && !hadFracDigits) return None
    if (j < b && (raw.charAt(j) | 0x20) == 'e') {
      j += 1
      if (j < b && (raw.charAt(j) == '+' || raw.charAt(j) == '-')) j += 1
      val expEnd = scanDigits(raw, j, b)
      if (expEnd < 0 || expEnd == j) return None
      j = expEnd
    }
    if (j != b) return None
    var s = if (a == 0 && b == raw.length) raw else raw.substring(a, b)
    var k = a
    while (k < b && !sawUnderscore) { if (raw.charAt(k) == '_') sawUnderscore = true; k += 1 }
    if (sawUnderscore) s = s.replace("_", "")
    Some(java.lang.Double.parseDouble(s))
  }

  /** Python `int(s)` parity (csv_extractor.py:103): None on ValueError.
    * Values beyond Long range also map to None (documented divergence:
    * Python's unbounded int would accept them; such epoch values are
    * nonsensical and the file dead-letters either way). */
  def parsePythonInt(raw: String): Option[Long] = {
    var a = 0; var b = raw.length
    while (a < b && isPyWhitespace(raw.charAt(a))) a += 1
    while (b > a && isPyWhitespace(raw.charAt(b - 1))) b -= 1
    if (a >= b) return None
    var i = a
    val c0 = raw.charAt(i)
    val neg = c0 == '-'
    if (c0 == '+' || c0 == '-') i += 1
    if (i >= b) return None
    val end = scanDigits(raw, i, b)
    if (end != b) return None
    var v = 0L
    var k = i
    while (k < b) {
      val ch = raw.charAt(k)
      if (ch != '_') {
        val d = ch - '0'
        if (v > (Long.MaxValue - d) / 10) return None // overflow
        v = v * 10 + d
      }
      k += 1
    }
    Some(if (neg) -v else v)
  }

  private final class FileFailure(msg: String) extends Exception(msg)

  /** Parse one file's content, mirroring get_parsed_file +
    * process_csv_file + create_data_points (csv_extractor.py:92-160):
    *  - row 1 = header; duplicate header names collapse per-row to the
    *    LAST occurrence (csv.DictReader dict build); short rows fill None;
    *    long rows drop extras.
    *  - the "" header column holds timestamps; `[1:]` drops the unit row.
    *  - value cell: empty/missing → dropped; float-parse failure → dropped;
    *    success → paired with `int(timestamps[i]) * 1000`. A missing or
    *    non-integer timestamp at a surviving value index fails the WHOLE
    *    file (IndexError/ValueError/TypeError outside the try).
    */
  def parseContent(path: String, content: String): TebisFile = {
    // Python opens the file with newline=None (universal newlines): \r\n
    // and bare \r become \n BEFORE the csv module sees them — including
    // inside quoted fields. Normalize for parity.
    val normalized =
      if (content.indexOf('\r') >= 0) content.replace("\r\n", "\n").replace('\r', '\n')
      else content
    val rows = parseCsv(normalized)
    if (rows.isEmpty) return TebisFile(path, Nil, None)
    // DictReader takes the LITERAL first row as fieldnames — a blank first
    // line means fieldnames=[] (blank-row skipping applies to data rows
    // only), which sends every data row to the restkey and fails the file.
    val blankHeader = normalized.charAt(0) == '\n'
    val header = if (blankHeader) Vector.empty[String] else rows.head
    val dataRows = if (blankHeader) rows else rows.tail
    // rows longer than the header: DictReader files extras under
    // restkey=None; process_csv_file then calls None.rpartition and the
    // WHOLE file dead-letters — but only after every real column was
    // processed (the None key sorts last), so their series still reach
    // the catalog (headers kept below).
    val hasExtraCells = dataRows.exists(_.length > header.length)
    // DictReader column-major build: one value per UNIQUE header key per
    // row (null = missing cell). Duplicate headers share one array, so
    // the later occurrence naturally overwrites (DictReader dict parity).
    val uniqueKeys = header.distinct
    val lf = header.length
    val columnsByKey: Map[String, Array[String]] =
      uniqueKeys.iterator.map(k => k -> new Array[String](dataRows.length)).toMap
    val keyArrays: Array[Array[String]] = header.iterator.map(columnsByKey).toArray
    var r = 0
    while (r < dataRows.length) {
      val row = dataRows(r)
      val lr = row.length
      var i = 0
      while (i < lf) {
        keyArrays(i)(r) = if (i < lr) row(i) else null
        i += 1
      }
      r += 1
    }
    // timestamps under the "" key; [1:] discards the unit row (line 130)
    val timestamps: Array[String] =
      columnsByKey.getOrElse("", Array.empty[String]).drop(1)
    val tsMsCache = new Array[Long](timestamps.length) // 0 = unparsed
    val valueKeys = uniqueKeys.filterNot(_ == "")
    // Headers whose series the reference had already CREATED when a
    // failure hit (create_time_series runs before create_data_points per
    // column, csv_extractor.py:148-156) — the failing column included.
    val headersSeen = Vector.newBuilder[SeriesColumn]
    try {
      val cols = valueKeys.zipWithIndex.map { case (colName, colIdx) =>
        val hdr = splitHeaderCell(colName)
        headersSeen += SeriesColumn(hdr.externalId, hdr.name, colIdx, Nil)
        val cells = columnsByKey(colName).drop(1)
        val dps = Vector.newBuilder[DatapointValue]
        var i = 0
        while (i < cells.length) {
          val v = cells(i)
          if (v != null && v.nonEmpty) {
            parsePythonFloat(if (v.indexOf(',') >= 0) v.replace(',', '.') else v) match {
              case Some(d) =>
                if (i >= timestamps.length)
                  throw new FileFailure(s"IndexError: no timestamp at row $i (timestamp header cell not empty?)")
                var tsMs = tsMsCache(i)
                if (tsMs == 0L) {
                  val ts = timestamps(i)
                  if (ts == null) throw new FileFailure(s"TypeError: missing timestamp cell at row $i")
                  val sec = parsePythonInt(ts).getOrElse(
                    throw new FileFailure(s"ValueError: invalid literal for int(): '$ts'"))
                  // documented divergence: seconds whose millis overflow
                  // Long dead-letter (Python's unbounded int would not)
                  if (sec > Long.MaxValue / 1000 || sec < Long.MinValue / 1000)
                    throw new FileFailure(s"ValueError: timestamp out of range: '$ts'")
                  tsMs = sec * 1000L
                  tsMsCache(i) = tsMs
                }
                dps += DatapointValue(tsMs, d)
              case None => () // unparsable value cell: silently dropped
            }
          } // empty or missing cell: dropped
          i += 1
        }
        SeriesColumn(hdr.externalId, hdr.name, colIdx, dps.result())
      }
      if (hasExtraCells)
        throw new FileFailure("AttributeError: 'list' object has no attribute 'rpartition' (row longer than header)")
      TebisFile(path, cols, None)
    } catch {
      // datapoints are discarded, but the already-seen headers are kept so
      // the catalog upsert mirrors the reference's partial series creation
      case f: FileFailure => TebisFile(path, headersSeen.result(), Some(f.getMessage))
    }
  }

  /** One file's bytes → its parse: latin-1, then [[parseContent]]. */
  def decode(path: String, bytes: Array[Byte]): TebisFile =
    // Charset resolved per call: java.nio.charset.Charset is not Serializable
    parseContent(path, new String(bytes, Charset.forName(Encoding)))

  /** Open `path` through `conf`, read it whole and [[decode]] it. */
  def read(path: String, conf: Configuration): TebisFile = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val bytes = try in.readAllBytes() finally in.close()
    decode(path, bytes)
  }

  /** The externalIds a file's HEADER names: first physical line only
    * (bytes up to the first '\n'), parsed with the same header-cell
    * splitter as the full parser. Malformed or unreadable headers yield
    * Nil — callers treat that as "cannot prove absence, keep". */
  private[graft] def headerIds(path: String, conf: Configuration): Seq[String] = {
    try {
      val p = new Path(path)
      // buffered: one block read per header, not one FS round-trip per
      // byte — this runs on the DRIVER once per candidate file during
      // partition planning, where a remote FS would pay per call
      val in = new java.io.BufferedInputStream(p.getFileSystem(conf).open(p), 64 * 1024)
      val buf = new java.io.ByteArrayOutputStream()
      try {
        var b = in.read()
        while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
      } finally in.close()
      val line = new String(buf.toByteArray, Charset.forName(Encoding)).stripSuffix("\r")
      parseCsv(line).headOption.toSeq
        .flatMap(_.drop(1))
        .map(c => splitHeaderCell(c).externalId)
        .filter(_.nonEmpty)
    } catch { case _: Exception => Nil }
  }

  /** Distributed read of the given files through the binaryFile source. */
  def files(spark: SparkSession, paths: Seq[String]): Dataset[TebisFile] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.csv")
      .load(paths: _*)
      .select($"path", $"content").as[(String, Array[Byte])]
      .map { case (p, bytes) => decode(p, bytes) }
  }

  /** Long-form datapoints from successfully parsed files. */
  def datapoints(spark: SparkSession, paths: Seq[String]): Dataset[Datapoint] = {
    import spark.implicits._
    files(spark, paths).filter(_.error.isEmpty).flatMap(_.datapoints)
  }
}
