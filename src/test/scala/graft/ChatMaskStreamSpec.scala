package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** Streaming SFT-ingest gate: chat-template loss accounting per watched
  * conversation, prompt-heavy examples flagged below the trainable-ratio
  * floor. Shares Pipelines.chatMaskStats with the x215 batch gate. */
class ChatMaskStreamSpec extends AnyFunSuite with LocalSpark {

  test("trainable-ratio accounting and admission per conversation") {
    val dir = Files.createTempDirectory("chatmask").toFile
    def rec(id: Int, rendered: String): String =
      s"""{"id": $id, "rendered": "$rendered"}"""
    Files.write(new java.io.File(dir, "conv.jsonl").toPath,
      (Seq(
        // 1: user 3 tokens, assistant 3 tokens -> 8 total, 3 trainable
        rec(1, "<|user|>a b c<|assistant|>d e f"),
        // 2: prompt-heavy: user 9 tokens, assistant 1 -> 12 total, 1 train
        rec(2, "<|user|>a b c d e f g h i<|assistant|>ok"),
        // 3: assistant-only turn pair, two rounds
        rec(3, "<|user|>q<|assistant|>x y<|user|>r<|assistant|>z w")
      ).mkString("\n") + "\n").getBytes)

    val q = Pipelines.chatMaskStream(spark, dir.getAbsolutePath)
      .writeStream.format("memory").queryName("chat_mask")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val rows = spark.table("chat_mask")
      .selectExpr("id", "total_tokens", "trainable_tokens", "trainable_ppm",
        "admit")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L) == ((8L, 3L, 375000L, true)))
    assert(rows(2L) == ((12L, 1L, 83333L, false))) // prompt-heavy: rejected
    assert(rows(3L) == ((10L, 4L, 400000L, true)))
  }
}
