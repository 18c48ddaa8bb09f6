package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** WARC/WET corpus ingest (the Common Crawl extracted-text format) as a
  * Spark DataSource V2: `spark.read.format("wet").load(path)` — the
  * entry point of a web-scale pretraining pipeline, feeding
  * [[graft.ops.TextClean]] / [[graft.ops.TextStats]] / [[graft.ops.Dedup]].
  *
  * Format (ISO 28500): records of CRLF-separated headers (`WARC/1.0`,
  * `WARC-Type`, `WARC-Target-URI`, `WARC-Date`, `Content-Length`, …),
  * a blank line, then exactly `Content-Length` BYTES of payload, then
  * a blank CRLF pair. WET payloads are UTF-8 plain text.
  *
  * Scale shape: one input partition per file — WET files ship gzipped
  * (non-splittable), and Common Crawl shards a crawl into ~64k files of
  * ~150 MB, so file-level parallelism saturates any cluster; the reader
  * streams each file (bounded memory per record) and never buffers a
  * whole file. Column pruning is pushed into the reader: a query that
  * selects `url` alone never materializes payload strings.
  *
  * By default only `conversion` records surface (WET text records —
  * `warcinfo` preambles are skipped); pass `.option("recordTypes",
  * "conversion,warcinfo")` to widen.
  */
class WetDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wet"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Wet.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WetTable(new CaseInsensitiveStringMap(properties), warc = false)
}

/** Raw WARC crawl ingest (`spark.read.format("warc")`): surfaces
  * `response` records with the HTTP envelope PARSED — status code,
  * response Content-Type, and the body as a binary column (bytes, not
  * text: a crawl body can be any media type; decode +
  * [[graft.ops.TextClean.stripHtml]] for HTML). Same file-per-partition
  * streaming, glob, pruning, and permissive-mode contracts as the WET
  * source — the two differ only in record defaults and row shape.
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Warc.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WetTable(new CaseInsensitiveStringMap(properties), warc = true)
}

final class WetTable(options: CaseInsensitiveStringMap, warc: Boolean)
  extends Table with SupportsRead {
  override def name(): String =
    s"${if (warc) "warc" else "wet"}(${options.get("path")})"
  override def schema(): StructType = if (warc) Warc.schema else Wet.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new WetScanBuilder(opts, warc)
}

final class WetScanBuilder(options: CaseInsensitiveStringMap, warc: Boolean)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = if (warc) Warc.schema else Wet.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    val path = options.get("path")
    require(path != null && path.nonEmpty, "wet source: no path given")
    val types = Option(options.get("recordTypes"))
      .getOrElse(if (warc) "response" else "conversion")
      .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
    val mode = Option(options.get("mode")).getOrElse("failfast").toLowerCase
    require(mode == "failfast" || mode == "permissive",
      s"wet source: mode must be failfast or permissive, got $mode")
    new WetScan(path, required, types, permissive = mode == "permissive", warc)
  }
}

final class WetScan(path: String, required: StructType, types: Set[String],
    permissive: Boolean, warc: Boolean = false) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // Planning runs on the driver: capture the (driver-configured, possibly
  // credential-carrying) Hadoop conf here and ship it to executors — a
  // PartitionReader must never touch SparkSession, which doesn't exist on
  // executor JVMs in a real deployment.
  private lazy val serConf =
    new SerializableConfiguration(SparkSession.active.sessionState.newHadoopConf())

  /** Lexicographically-sorted matching files. Shared by batch planning
    * and the micro-batch stream (whose offsets index into this order).
    */
  private[sources] def listFiles(): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(serConf.value)
    // globStatus handles literal paths AND globs; it returns null for a
    // non-existent non-glob path, and an empty array for a glob matching
    // nothing. Matched directories expand one level (a crawl dir of files).
    val matched = Option(fs.globStatus(p)).getOrElse(
      throw new java.io.FileNotFoundException(s"wet source: path not found: $path"))
    val stats: Seq[FileStatus] = matched.toSeq.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s)
    }
    stats.filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString).sorted
  }

  override def planInputPartitions(): Array[InputPartition] =
    listFiles().map(f => WetInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    WetReaderFactory(required, types, permissive, warc, serConf)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WetMicroBatchStream(this, required, types, permissive, warc, serConf)
}

/** Streaming crawl ingest: `spark.readStream.format("wet"|"warc")` —
  * new files landing in the watched path are processed exactly once,
  * one micro-batch per discovery. The offset is a PREFIX LENGTH of the
  * lexicographically-sorted file listing, so the landing contract is
  * the standard one for crawl drops: files are added with
  * monotonically-increasing names (Common Crawl's segment naming) and
  * never removed while a stream is attached. A file inserted BELOW the
  * committed prefix would shift the order and is detected and rejected
  * at planning time rather than silently skipping data.
  */
final class WetMicroBatchStream(scan: WetScan, required: StructType,
    types: Set[String], permissive: Boolean, warc: Boolean,
    conf: SerializableConfiguration)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class FilesOffset(n: Int, lastFile: String) extends Offset {
    override def json(): String = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.createObjectNode()
      node.put("n", n); node.put("last", lastFile)
      m.writeValueAsString(node)
    }
  }

  // snapshot of the listing as of the latest latestOffset() call, so
  // planInputPartitions slices a consistent view
  @volatile private var snapshot: Seq[String] = Nil

  override def initialOffset(): Offset = FilesOffset(0, "")
  override def latestOffset(): Offset = {
    snapshot = scan.listFiles()
    FilesOffset(snapshot.length, snapshot.lastOption.getOrElse(""))
  }
  override def deserializeOffset(json: String): Offset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    FilesOffset(node.get("n").asInt(), node.get("last").asText())
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FilesOffset]
    val e = end.asInstanceOf[FilesOffset]
    val files = if (snapshot.length >= e.n) snapshot else scan.listFiles()
    require(files.length >= e.n,
      s"wet stream: listing shrank below the committed offset (${files.length} < ${e.n}) — " +
        "files must not be removed while a stream is attached")
    // ordering guard: the file at the committed boundary must match what
    // the offset recorded, else a file was inserted below the prefix
    if (s.n > 0 && s.lastFile.nonEmpty)
      require(files(s.n - 1) == s.lastFile,
        s"wet stream: listing reordered under the committed offset " +
          s"(expected ${s.lastFile} at ${s.n - 1}, found ${files(s.n - 1)}); " +
          "new files must sort after already-processed ones")
    files.slice(s.n, e.n).map(f => WetInputPartition(f): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    WetReaderFactory(required, types, permissive, warc, conf)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class WetInputPartition(file: String) extends InputPartition

final case class WetReaderFactory(required: StructType, types: Set[String],
    permissive: Boolean, warc: Boolean, conf: SerializableConfiguration)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WetPartitionReader(partition.asInstanceOf[WetInputPartition].file,
      required, types, permissive, warc, conf.value)
}

/** Streams one WET file: parses record headers, reads exactly
  * Content-Length payload bytes, skips the inter-record blank pair.
  * Bounded memory: one record at a time.
  *
  * Malformed-record contract: in `failfast` mode (default) a truncated
  * payload or garbled header throws, failing the task. In `permissive`
  * mode the reader logs a warning with the file and record ordinal and
  * stops consuming that file — records before the corruption survive.
  * (WET corruption is almost always a truncated tail, so resynchronizing
  * past a bad Content-Length inside a gzip stream is not attempted.)
  */
final class WetPartitionReader(file: String, required: StructType,
    types: Set[String], permissive: Boolean, warc: Boolean,
    hadoopConf: org.apache.hadoop.conf.Configuration)
  extends PartitionReader[InternalRow] {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[WetPartitionReader])

  private val in: InputStream = {
    val p = new Path(file)
    val fs = p.getFileSystem(hadoopConf)
    val raw = new BufferedInputStream(fs.open(p), 1 << 16)
    if (file.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw
  }
  private var current: InternalRow = _
  private var recordIdx: Long = -1L

  // ISO-8859-1 header line up to CRLF (or LF); null at EOF
  private def readLine(): String = {
    val sb = new java.lang.StringBuilder(64)
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def readFully(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(
        s"wet: truncated payload in $file (wanted $n bytes, got $off)")
      off += r
    }
    buf
  }

  override def next(): Boolean =
    if (!permissive) nextRecord()
    else try nextRecord() catch {
      case e: java.io.IOException =>
        log.warn(s"wet: malformed record ~#${recordIdx + 1} in $file, " +
          s"dropping the rest of the file: ${e.getMessage}")
        false
    }

  private def nextRecord(): Boolean = {
    while (true) {
      // seek the next record header, tolerating blank separator lines
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null) return false
      if (!line.startsWith("WARC/"))
        throw new java.io.IOException(s"wet: expected WARC/1.x header in $file, got: $line")
      var recType, uri, date, recId: String = null
      var contentLength = -1L
      var h = readLine()
      while (h != null && h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0) {
          val k = h.substring(0, i).trim.toLowerCase
          val v = h.substring(i + 1).trim
          k match {
            case "warc-type" => recType = v
            case "warc-target-uri" => uri = v
            case "warc-date" => date = v
            case "warc-record-id" => recId = v
            case "content-length" => contentLength = v.toLong
            case _ => ()
          }
        }
        h = readLine()
      }
      if (contentLength < 0) throw new java.io.IOException(
        s"wet: record without Content-Length in $file")
      if (contentLength > Int.MaxValue - 8) throw new java.io.IOException(
        s"wet: Content-Length $contentLength exceeds the single-record limit in $file")
      val payload = readFully(contentLength.toInt)
      recordIdx += 1
      if (recType != null && types.contains(recType.toLowerCase)) {
        current = buildRow(recType, uri, date, recId, contentLength, payload)
        return true
      }
      // else: skip (e.g. warcinfo) and continue scanning
    }
    false
  }

  private def buildRow(recType: String, uri: String, date: String,
      recId: String, len: Long, payload: Array[Byte]): InternalRow = {
    // WARC response records wrap an HTTP message: status line, headers,
    // CRLFCRLF, body. Parse lazily — only when an http_/body column is
    // actually required (column pruning keeps a url-only scan cheap).
    lazy val http: (Integer, String, Array[Byte]) = Warc.parseHttp(payload)
    val vals = required.fields.map { f =>
      f.name match {
        case "url" => if (uri == null) null else UTF8String.fromString(uri)
        case "date" => if (date == null) null else UTF8String.fromString(date)
        case "record_id" => if (recId == null) null else UTF8String.fromString(recId)
        case "record_type" => UTF8String.fromString(recType)
        case "content_length" => java.lang.Long.valueOf(len)
        case "record_idx" => java.lang.Long.valueOf(recordIdx)
        case "text" => UTF8String.fromBytes(payload)
        case "http_status" => http._1
        case "http_content_type" =>
          if (http._2 == null) null else UTF8String.fromString(http._2)
        case "body" => http._3
        case other => throw new IllegalArgumentException(s"wet: unknown column $other")
      }
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

object Wet {
  /** (url, date, record_id, record_type, content_length, record_idx,
    * text) — record_idx is the 0-based record ordinal within its file
    * (warcinfo records count, so ordinals are stable under type
    * filtering).
    */
  val schema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("date", StringType),
    StructField("record_id", StringType),
    StructField("record_type", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("record_idx", LongType, nullable = false),
    StructField("text", StringType)))

  /** Facade: `Wet.read(spark, "hdfs://crawl-dir-or-glob")`. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("wet").load(path)

  /** Serialize records to WET bytes (headers + exact byte
    * Content-Length) — the writer half used by tests and fixtures.
    */
  def toBytes(records: Seq[(String, String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val info = "software: graft-wet\r\n".getBytes("UTF-8")
    out.write(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      s"Content-Length: ${info.length}\r\n\r\n").getBytes("ISO-8859-1"))
    out.write(info)
    out.write("\r\n\r\n".getBytes("ISO-8859-1"))
    records.zipWithIndex.foreach { case ((url, date, text), i) =>
      val payload = text.getBytes("UTF-8")
      out.write((s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: $url\r\nWARC-Date: $date\r\n" +
        s"WARC-Record-ID: <urn:uuid:rec-$i>\r\n" +
        s"Content-Type: text/plain\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1"))
      out.write(payload)
      out.write("\r\n\r\n".getBytes("ISO-8859-1"))
    }
    out.toByteArray
  }
}

object Warc {
  /** WET columns plus the parsed HTTP envelope: `http_status` (null for
    * a non-HTTP payload), `http_content_type` (the response header,
    * lowercased media type only — parameters like charset stripped),
    * `body` (payload bytes AFTER the HTTP header block; the raw payload
    * if no block is found). `text` stays available for callers who want
    * the unparsed payload.
    */
  val schema: StructType = StructType(Wet.schema.fields ++ Seq(
    StructField("http_status", org.apache.spark.sql.types.IntegerType),
    StructField("http_content_type", StringType),
    StructField("body", org.apache.spark.sql.types.BinaryType)))

  /** Facade: `Warc.read(spark, "hdfs://crawl-dir-or-glob")`. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("warc").load(path)

  /** Split an HTTP/1.x response message into (status, contentType,
    * body). Tolerant: accepts LF-only header termination; a payload not
    * starting with `HTTP/` yields (null, null, payload) — WARC response
    * records exist for non-HTTP protocols (e.g. DNS) and must not fail
    * the scan.
    */
  private[graft] def parseHttp(payload: Array[Byte]): (Integer, String, Array[Byte]) = {
    def ascii(from: Int, until: Int) =
      new String(payload, from, until - from, "ISO-8859-1")
    if (payload.length < 5 || ascii(0, 5) != "HTTP/")
      return (null, null, payload)
    // find header/body boundary: CRLFCRLF or LFLF, whichever first
    var bodyAt = -1
    var i = 0
    while (bodyAt < 0 && i < payload.length - 1) {
      if (payload(i) == '\n' &&
          (payload(i + 1) == '\n' ||
            (payload(i + 1) == '\r' && i + 2 < payload.length && payload(i + 2) == '\n')))
        bodyAt = if (payload(i + 1) == '\n') i + 2 else i + 3
      i += 1
    }
    if (bodyAt < 0) bodyAt = payload.length // header-only message
    val head = ascii(0, bodyAt)
    val lines = head.split("\r?\n")
    val status: Integer = {
      val parts = lines(0).split(" ")
      if (parts.length >= 2 && parts(1).forall(_.isDigit) && parts(1).nonEmpty)
        Integer.valueOf(parts(1).toInt)
      else null
    }
    val cType = lines.drop(1).collectFirst {
      case l if l.toLowerCase.startsWith("content-type:") =>
        l.substring(l.indexOf(':') + 1).trim.split(";")(0).trim.toLowerCase
    }.orNull
    (status, cType, java.util.Arrays.copyOfRange(payload, bodyAt, payload.length))
  }

  /** Serialize WARC response records (url, date, status, contentType,
    * body) — the fixture writer. The record Content-Length covers the
    * full HTTP message, per ISO 28500.
    */
  def toBytes(records: Seq[(String, String, Int, String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val info = "software: graft-warc\r\n".getBytes("UTF-8")
    out.write(("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      s"Content-Length: ${info.length}\r\n\r\n").getBytes("ISO-8859-1"))
    out.write(info)
    out.write("\r\n\r\n".getBytes("ISO-8859-1"))
    records.zipWithIndex.foreach { case ((url, date, status, cType, body), i) =>
      val httpHead = (s"HTTP/1.1 $status OK\r\n" +
        s"Content-Type: $cType\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1")
      val msgLen = httpHead.length + body.length
      out.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: $url\r\nWARC-Date: $date\r\n" +
        s"WARC-Record-ID: <urn:uuid:resp-$i>\r\n" +
        s"Content-Type: application/http;msgtype=response\r\n" +
        s"Content-Length: $msgLen\r\n\r\n").getBytes("ISO-8859-1"))
      out.write(httpHead)
      out.write(body)
      out.write("\r\n\r\n".getBytes("ISO-8859-1"))
    }
    out.toByteArray
  }
}
