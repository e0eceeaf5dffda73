package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ChunkCodec, FileChunk}

/** Native Catalyst expressions for the chunk wire codec (C1/C2) — the
  * SURVEY §4 upgrade from the v0 udf: no Row/case-class round trip, null
  * semantics handled by `UnaryExpression.nullSafeEval`, usable from SQL via
  * [[ChunkFunctions.register]]. `doGenCode` calls back into the
  * expression object, for the reason [[BinaryCodecExpression]] gives.
  */
case class PackChunk(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s: StructType if s.length == FileChunk.schema.length =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pack_chunk expects the 10-field chunk struct, got $other")
    }
  override def nullSafeEval(input: Any): Any = {
    val r = input.asInstanceOf[InternalRow]
    val c = FileChunk(
      filename = r.getUTF8String(0).toString,
      fileHash = r.getBinary(1),
      chunkHash = r.getBinary(2),
      chunkOffsetWrite = r.getLong(3),
      chunkI = r.getInt(4),
      nTotalChunks = r.getInt(5),
      subdirStr = if (r.isNullAt(6)) "" else r.getUTF8String(6).toString,
      filenameAppend = if (r.isNullAt(7)) "" else r.getUTF8String(7).toString,
      data = r.getBinary(8),
      fileMtime = if (r.isNullAt(9)) None else Some(r.getDouble(9)))
    ChunkCodec.pack(c)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("packChunk", this, classOf[PackChunk].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (byte[]) $self.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): PackChunk =
    copy(child = newChild)
}

case class UnpackChunk(child: Expression) extends UnaryExpression {
  override def dataType: DataType = FileChunk.schema
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"unpack_chunk expects BINARY, got $other")
    }
  override def nullSafeEval(input: Any): Any = {
    val c = ChunkCodec.unpack(input.asInstanceOf[Array[Byte]])
    InternalRow(
      UTF8String.fromString(c.filename), c.fileHash, c.chunkHash,
      c.chunkOffsetWrite, c.chunkI, c.nTotalChunks,
      UTF8String.fromString(c.subdirStr), UTF8String.fromString(c.filenameAppend),
      c.data, c.fileMtime.map(Double.box).orNull)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("unpackChunk", this, classOf[UnpackChunk].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $self.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): UnpackChunk =
    copy(child = newChild)
}

object ChunkFunctions {
  /** One SQL function: its name, the class of the expression it builds
    * (for `ExpressionInfo`), and the builder from its argument list. */
  final case class SqlFunction(
      name: String, cls: Class[_ <: Expression], build: Seq[Expression] => Expression)

  /** Every SQL function of the package. [[register]] and [[GraftExtensions]]
    * both install exactly this list. */
  val table: Seq[SqlFunction] = Seq(
    SqlFunction("pack_chunk", classOf[PackChunk], es => PackChunk(es.head)),
    SqlFunction("unpack_chunk", classOf[UnpackChunk], es => UnpackChunk(es.head)),
    SqlFunction("chunk_binary", classOf[ChunkBinary], es => ChunkBinary(es.head, es(1))),
    SqlFunction("vec_dot", classOf[FloatVecDot], es => FloatVecDot(es.head, es(1))),
    SqlFunction("vec_norm", classOf[FloatVecNorm], es => FloatVecNorm(es.head)),
    SqlFunction("gear_boundaries", classOf[GearBoundaries], es => GearBoundaries(es.head, es(1))),
    SqlFunction("image_header", classOf[ImageHeader], es => ImageHeader(es.head)),
    SqlFunction("audio_header", classOf[AudioHeader], es => AudioHeader(es.head)),
    SqlFunction("video_header", classOf[VideoHeader], es => VideoHeader(es.head)),
    SqlFunction("video_tracks", classOf[VideoTracks], es => VideoTracks(es.head)),
    SqlFunction("video_samples", classOf[VideoSamples], es => VideoSamples(es.head)),
    SqlFunction("mkv_tracks", classOf[MkvTracks], es => MkvTracks(es.head)),
    SqlFunction("mkv_blocks", classOf[MkvBlocks], es => MkvBlocks(es.head)),
    SqlFunction("id3_tags", classOf[Id3Tags], es => Id3Tags(es.head)),
    SqlFunction("exif_tags", classOf[ExifTags], es => ExifTags(es.head)),
    SqlFunction("exif_scrub_gps", classOf[ExifScrubGps], es => ExifScrubGps(es.head)),
    SqlFunction("image_ahash", classOf[ImageAHash], es => ImageAHash(es.head)),
    SqlFunction("ts_packets", classOf[TsPackets], es => TsPackets(es.head)),
    SqlFunction("ts_pes", classOf[TsPes], es => TsPes(es.head)),
    SqlFunction("annexb_nals", classOf[AnnexbNals], es => AnnexbNals(es.head)),
    SqlFunction("h264_sps_meta", classOf[H264SpsMeta], es => H264SpsMeta(es.head)),
    SqlFunction("warc_records", classOf[WarcRecords], es => WarcRecords(es.head)),
    SqlFunction("zip_entries", classOf[ZipEntries], es => ZipEntries(es.head)),
    SqlFunction("tar_entries", classOf[TarEntries], es => TarEntries(es.head)),
    SqlFunction("pcm_frames", classOf[PcmFrames], es => PcmFrames(es.head, es(1))),
    SqlFunction("h264_meta", classOf[H264Meta], es => H264Meta(es.head)),
    SqlFunction("hevc_meta", classOf[HevcMeta], es => HevcMeta(es.head)),
    SqlFunction("av1_meta", classOf[Av1Meta], es => Av1Meta(es.head)),
    SqlFunction("bmp_pixels", classOf[BmpPixels], es => BmpPixels(es.head)),
    SqlFunction("png_pixels", classOf[PngPixels], es => PngPixels(es.head)),
    SqlFunction("gif_pixels", classOf[GifPixels], es => GifPixels(es.head)),
    SqlFunction("jpeg_pixels", classOf[JpegPixels], es => JpegPixels(es.head)),
    SqlFunction("pcm_stats", classOf[PcmStats], es => PcmStats(es.head)),
    SqlFunction("warc_index", classOf[WarcIndex], es => WarcIndex(es.head)),
    SqlFunction("pdf_meta", classOf[PdfMeta], es => PdfMeta(es.head)),
    SqlFunction("pdf_text", classOf[PdfText], es => PdfText(es.head)),
    SqlFunction("flac_decode", classOf[FlacDecode], es => FlacDecode(es.head)),
    SqlFunction("odt_text", classOf[OdtText], es => OdtText(es.head)),
    SqlFunction("epub_chapters", classOf[EpubChapters], es => EpubChapters(es.head)),
    SqlFunction("rtf_text", classOf[RtfText], es => RtfText(es.head)),
    SqlFunction("eml_parse", classOf[EmlParse], es => EmlParse(es.head)),
    SqlFunction("gunzip_bytes", classOf[GunzipBytes], es => GunzipBytes(es.head)),
    SqlFunction("ods_text", classOf[OdsText], es => OdsText(es.head)),
    SqlFunction("bunzip_bytes", classOf[BunzipBytes], es => BunzipBytes(es.head)),
    SqlFunction("bz2_extents", classOf[Bzip2Extents], es => Bzip2Extents(es.head)),
    SqlFunction("wikitext_plain", classOf[WikitextPlain], es => WikitextPlain(es.head)),
    SqlFunction("zstd_bytes", classOf[ZstdBytes], es => ZstdBytes(es.head)),
    SqlFunction("xz_bytes", classOf[XzBytes], es => XzBytes(es.head)),
    SqlFunction("sevenz_entries", classOf[SevenZipEntries], es => SevenZipEntries(es.head)),
    SqlFunction("zstd_extents", classOf[ZstdExtents], es => ZstdExtents(es.head)),
    SqlFunction("zstd_dict", classOf[ZstdDictExpr], es => ZstdDictExpr(es.head)),
    SqlFunction("zstd_bytes_dict", classOf[ZstdBytesDict], es => ZstdBytesDict(es.head, es(1))),
    SqlFunction("odp_slides", classOf[OdpSlides], es => OdpSlides(es.head)),
    // bloom_bits(hs, m): aggregate the array<bigint> bucket positions of
    // each row into an m-bit Bloom set (m from a foldable int literal)
    SqlFunction("bloom_bits", classOf[BloomBits], es =>
      BloomBits(es.head, es(1).eval(null).asInstanceOf[Number].intValue())
        .toAggregateExpression()))

  /** Register the [[table]] for SQL use in this session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach(f => reg.createOrReplaceTempFunction(f.name, f.build, "built-in"))
  }
}

/** Session extension installing the [[ChunkFunctions.table]] at session
  * build time — `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ChunkFunctions.table.foreach(f => e.injectFunction(
      (FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.build)))
}
