package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.batch.{AsmBuf, AssembledFile, ChunkRow}
import graft.core.Assembly

/** Streaming reassembly (G1/G2 over a stream): chunks grouped by file path,
  * per-group state driven by the same pure [[Assembly]] policy as the batch
  * aggregator, completed files emitted in append mode.
  *
  * The reference keeps partial-file state forever
  * (data_file_chunk_handlers.py:51-53); we add the eviction the reference
  * lacks (SURVEY.md §2.8): a processing-time timeout that surfaces timed-out
  * partials as quarantine rows (code 2) instead of leaking state.
  *
  * Scale posture: state lives in the state store (RocksDB provider at scale),
  * partitioned by `rel_filepath` — single-writer-per-file with no locks; the
  * shuffle carries each chunk payload once; Kafka-source offsets + the
  * checkpoint give exactly-once state updates over at-least-once delivery,
  * with duplicate chunks collapsing idempotently in [[Assembly.step]].
  */
object AssemblyStream {

  val DefaultTimeoutMs: Long = 15 * 60 * 1000L

  /** The state encoder, built once per JVM. Spark numbers the lambda
    * variables of a collection's serializer from a JVM-wide counter and
    * writes the number into the generated source. It renumbers them per
    * query in a plan's own expressions, but not in the state encoder of
    * flatMapGroupsWithState, so an encoder derived afresh for each query
    * gave every query start a new source for its state projection, and a
    * Janino compile. */
  private val AsmBufEncoder: Encoder[AsmBuf] = ExpressionEncoder[AsmBuf]()

  private def state2buf(rel: String, name: String, s: Assembly.State): AsmBuf =
    AsmBuf(rel, name, s.fileHash, s.nTotal, s.mtime, s.buffered, completed = false)
  private def buf2state(b: AsmBuf): Assembly.State =
    Assembly.State(b.fileHash, b.nTotal, b.mtime, b.buffered)
  /** Completion tombstone: generation identity only, no payloads — late
    * duplicates of this generation drop instead of re-opening the file. */
  private def tombstone(rel: String, name: String, s: Assembly.State): AsmBuf =
    AsmBuf(rel, name, s.fileHash, s.nTotal, s.mtime, Map.empty, completed = true)

  /** Eviction of a buffered key: a timed-out partial surfaces as an
    * InProgress quarantine row carrying what it had buffered; a completion
    * tombstone expires silently (None). */
  private def quarantineRow(b: AsmBuf): Option[AssembledFile] =
    if (b.completed) None
    else Some(AssembledFile(b.relFilepath, b.filename, Assembly.Code.InProgress,
      b.buffered.size, b.buffered.valuesIterator.map(_.length.toLong).sum,
      b.fileHash, b.mtime, null))

  /** Pure fold of one microbatch's rows for a key: prior buffer → (emitted
    * files, next buffer). Completion leaves a tombstone so late duplicates of
    * the finished generation drop; a newer generation replaces it. */
  private def foldRows(key: String, prior: Option[AsmBuf], rows: Iterator[ChunkRow])
      : (Seq[AssembledFile], Option[AsmBuf]) = {
    var tomb: Option[AsmBuf] = prior.filter(_.completed)
    var current: Option[Assembly.State] = prior.filterNot(_.completed).map(buf2state)
    var filename: String = prior.map(_.filename).orNull
    val emitted = Seq.newBuilder[AssembledFile]
    rows.foreach { r =>
      val c = r.toChunk
      filename = c.filename
      val dropAsCompletedDup = tomb.exists { t =>
        Assembly.decide(t.fileHash, t.nTotal, t.mtime, c) != Assembly.AdoptNew
      }
      if (!dropAsCompletedDup) {
        if (tomb.isDefined) tomb = None // newer generation supersedes tombstone
        val (next, _) = Assembly.step(current, c)
        current = Some(next)
        if (next.complete) {
          val (code, fileOpt) = Assembly.finish(key, c.filename, next)
          fileOpt match {
            case Some(f) =>
              emitted += AssembledFile(f.relFilepath, f.filename, code, f.nChunks,
                f.size, f.fileHash, f.fileMtime, f.data)
              tomb = Some(tombstone(key, c.filename, next))
            case None =>
              // complete but hash-mismatched: surface and drop (reference
              // registers mismatched_hash and relies on replay)
              emitted += AssembledFile(key, c.filename, code, next.buffered.size,
                next.buffered.valuesIterator.map(_.length.toLong).sum,
                next.fileHash, next.mtime, null)
          }
          current = None
        }
      }
    }
    val nextBuf = (current, tomb) match {
      case (Some(s), _) => Some(state2buf(key, filename, s))
      case (None, t) => t
    }
    (emitted.result(), nextBuf)
  }

  /** The state-store plumbing both assembly modes share, around a pure
    * per-key `fold` (prior state → emitted rows, next state) and an `expire`
    * for timed-out keys. `None` from the fold removes the key's state; any
    * other state is stored and its eviction timeout re-armed.
    *
    * `timeoutMs <= 0` disables eviction (NoTimeout) — processing-time
    * timeouts make the microbatch loop re-trigger continuously even with no
    * data, which is the right behavior for a standing production stream but
    * pure churn for availableNow/test runs. */
  private[streaming] def assembleWith[S: Encoder, O: Encoder](
      chunks: Dataset[ChunkRow], timeoutMs: Long)(
      fold: (String, Option[S], Iterator[ChunkRow]) => (Seq[O], Option[S]),
      expire: (String, S) => Option[O]): Dataset[O] = {
    val timeout =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    def update(key: String, rows: Iterator[ChunkRow],
        state: GroupState[S]): Iterator[O] =
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        expire(key, s).iterator
      } else {
        val (out, next) = fold(key, state.getOption, rows)
        next match {
          case Some(s) =>
            state.update(s)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
          case None => if (state.exists) state.remove()
        }
        out.iterator
      }
    chunks
      .groupByKey(_.toChunk.relFilepath)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update _)
  }

  /** Wire the buffered streaming assembly over a (streaming) chunk Dataset;
    * completed files carry their bytes. */
  def assemble(
      chunks: Dataset[ChunkRow],
      timeoutMs: Long = DefaultTimeoutMs): Dataset[AssembledFile] = {
    assembleWith[AsmBuf, AssembledFile](chunks, timeoutMs)(
      foldRows, (_, b) => quarantineRow(b))(AsmBufEncoder, Encoders.product[AssembledFile])
  }
}
