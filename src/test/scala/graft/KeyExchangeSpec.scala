package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.batch.ChunkPipeline
import graft.streaming.{KeyExchange, WireCrypto}

/** C4bis key exchange — the kafkacrypto protocol shape the reference wraps
  * (openmsistream kafka_wrapper/openmsistream_kafka_crypto.py:12-120):
  * X25519 pairwise agreement, HKDF-derived wrapping keys, per-topic data
  * keys distributed over `<topic>.keys`/`<topic>.reqs` side topics with
  * generation-numbered rotation, Ed25519-signed announcements and key
  * messages with fingerprint allow-lists (the signed-chain-of-trust shape),
  * feeding the WireCrypto AES data plane. */
class KeyExchangeSpec extends AnyFunSuite with LocalSpark {

  test("HKDF-SHA256 matches the RFC 5869 appendix A.1 test vector") {
    def hex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val okm = KeyExchange.hkdf(
      hex("0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b0b"),
      hex("000102030405060708090a0b0c"),
      hex("f0f1f2f3f4f5f6f7f8f9"), 42)
    assert(okm.map("%02x".format(_)).mkString ==
      "3cb25f25faacd57a90434f64d0362f2a2d2d0a90cf1a5a4c5db02d56ecc4c5bf" +
        "34007208d5b887185865")
  }

  test("both sides of an X25519 exchange derive the same pairwise key; " +
      "topics separate") {
    val a = KeyExchange.generateKeyPair()
    val b = KeyExchange.generateKeyPair()
    val kAB = KeyExchange.pairwiseKey(a, b.getPublic.getEncoded, "t1")
    val kBA = KeyExchange.pairwiseKey(b, a.getPublic.getEncoded, "t1")
    assert(kAB.sameElements(kBA))
    assert(kAB.length == 16)
    // same pair, different topic → different wrapping key
    val kAB2 = KeyExchange.pairwiseKey(a, b.getPublic.getEncoded, "t2")
    assert(!kAB.sameElements(kAB2))
    // a third party derives something else entirely
    val c = KeyExchange.generateKeyPair()
    assert(!KeyExchange.pairwiseKey(c, b.getPublic.getEncoded, "t1")
      .sameElements(kAB))
  }

  test("end-to-end: announce → publish wrapped data key → fetch → " +
      "encrypted wire decrypts; outsider dead-letters") {
    import spark.implicits._
    val topicDir = Files.createTempDirectory("kx-topic").toString
    val topic = "osn_test"
    val producer = KeyExchange.newIdentity()
    val consumer = KeyExchange.newIdentity()
    val outsider = KeyExchange.newIdentity()

    // consumer announces on <topic>.reqs; producer mints + wraps the key
    KeyExchange.announce(topicDir, "consumer-1", consumer)
    val dataKey =
      KeyExchange.publishDataKey(topicDir, topic, "prod-1", producer, 1L)

    // consumer recovers the same bytes from <topic>.keys
    val got = KeyExchange.fetchDataKey(topicDir, topic, "consumer-1", consumer)
    assert(got.exists { case (gen, k) => gen == 1L && k.sameElements(dataKey) })

    // outsider addressed by nothing → None; even reading consumer-1's
    // message with the wrong private key fails GCM auth → None
    assert(KeyExchange.fetchDataKey(topicDir, topic, "outsider", outsider).isEmpty)
    assert(KeyExchange.fetchDataKey(topicDir, topic, "consumer-1", outsider).isEmpty)

    // data plane: wire encrypted under the exchanged key decrypts cleanly
    // for the consumer, fully dead-letters under the outsider's guess
    val files = spark.createDataset(Seq(
      ("kx.bin", "sub", Array.fill[Byte](200)(7), Option(1.5))))
    val wire = ChunkPipeline.encode(ChunkPipeline.chunkFiles(files, 64))
    val encrypted = WireCrypto.encryptValues(wire, dataKey)
    val (ok, dead) = WireCrypto.splitDecrypted(encrypted, got.get._2)
    assert(dead.count() == 0 && ok.count() == wire.count())
    val (okBad, deadBad) =
      WireCrypto.splitDecrypted(encrypted, Array.fill[Byte](16)(9))
    assert(okBad.count() == 0 && deadBad.count() == encrypted.count())
  }

  test("durable identity survives restart; private keys land 0600; " +
      "nextGeneration rotates") {
    val idDir = Files.createTempDirectory("kx-id").toString
    val topicDir = Files.createTempDirectory("kx-gen").toString
    val p1 = KeyExchange.loadOrCreateIdentity(idDir)
    val p2 = KeyExchange.loadOrCreateIdentity(idDir) // "after restart"
    assert(p1.kem.getPublic.getEncoded.sameElements(p2.kem.getPublic.getEncoded))
    assert(p1.fingerprint == p2.fingerprint) // same Ed25519 identity too
    // the reloaded private key agrees with the original: both derive the
    // same pairwise key against a fresh peer
    val peer = KeyExchange.newIdentity()
    assert(KeyExchange.pairwiseKey(p1.kem, peer.kem.getPublic.getEncoded, "t")
      .sameElements(
        KeyExchange.pairwiseKey(p2.kem, peer.kem.getPublic.getEncoded, "t")))
    // private key material is owner-only (0600); public halves stay readable
    import java.nio.file.attribute.PosixFilePermission._
    for (f <- Seq("x25519.pkcs8", "ed25519.pkcs8")) {
      val perms = Files.getPosixFilePermissions(Paths.get(idDir, f))
      assert(perms == java.util.EnumSet.of(OWNER_READ, OWNER_WRITE),
        s"$f should be 0600, got $perms")
    }
    // generation counter: fresh topic → 1; after publishes → max + 1
    assert(KeyExchange.nextGeneration(topicDir) == 1L)
    KeyExchange.announce(topicDir, "c", peer)
    val producer = KeyExchange.newIdentity()
    KeyExchange.publishDataKey(topicDir, "t", "p", producer, 1L)
    KeyExchange.publishDataKey(topicDir, "t", "p", producer, 5L)
    assert(KeyExchange.nextGeneration(topicDir) == 6L)
  }

  test("AnnounceKeyApp CLI: creates the identity and announces it; a later " +
      "publish wraps for that party") {
    val topicDir = Files.createTempDirectory("kx-cli").toString + "/topic"
    val idDir = Files.createTempDirectory("kx-cli-id").toString + "/consumer-7"
    graft.app.AnnounceKeyApp.main(Array(topicDir, idDir))
    assert(Files.exists(Paths.get(idDir, "x25519.pkcs8")))
    assert(Files.exists(Paths.get(idDir, "ed25519.pkcs8")))
    assert(Files.exists(Paths.get(s"$topicDir.reqs", "consumer-7.pub")))
    // re-announcing reuses the same durable identity (same public key), and
    // Ed25519 signatures are deterministic (RFC 8032) → identical message
    val pub1 = Files.readAllBytes(Paths.get(idDir, "x25519.pub"))
    val ann1 = Files.readAllBytes(Paths.get(s"$topicDir.reqs", "consumer-7.pub"))
    graft.app.AnnounceKeyApp.main(Array(topicDir, idDir))
    assert(Files.readAllBytes(Paths.get(idDir, "x25519.pub")).sameElements(pub1))
    assert(Files.readAllBytes(
      Paths.get(s"$topicDir.reqs", "consumer-7.pub")).sameElements(ann1))
    // producer wraps for the announced party; the identity recovers the key
    val dataKey = KeyExchange.publishDataKey(topicDir, "topic", "p",
      KeyExchange.newIdentity(), KeyExchange.nextGeneration(topicDir))
    val got = KeyExchange.fetchDataKey(topicDir, "topic", "consumer-7",
      KeyExchange.loadOrCreateIdentity(idDir))
    assert(got.exists(_._2.sameElements(dataKey)))
  }

  test("rotation window: a key RING decrypts messages under every known " +
      "generation; unknown generations dead-letter") {
    import spark.implicits._
    val topicDir = Files.createTempDirectory("kx-ring").toString
    val consumer = KeyExchange.newIdentity()
    KeyExchange.announce(topicDir, "c", consumer)
    val producer = KeyExchange.newIdentity()
    val k1 = KeyExchange.publishDataKey(topicDir, "t", "p", producer, 1L)
    val k2 = KeyExchange.publishDataKey(topicDir, "t", "p", producer, 2L)
    val k3unknown = Array.fill[Byte](16)(42) // never published
    def wireOf(tag: String) = {
      val files = spark.createDataset(Seq(
        (s"$tag.bin", "sub", Array.fill[Byte](150)(tag.head.toByte), Option(1.5))))
      ChunkPipeline.encode(ChunkPipeline.chunkFiles(files, 64))
    }
    val mixed = WireCrypto.encryptValues(wireOf("a"), k1)
      .unionByName(WireCrypto.encryptValues(wireOf("b"), k2))
      .unionByName(WireCrypto.encryptValues(wireOf("c"), k3unknown))
    val ring = KeyExchange.fetchAllDataKeys(topicDir, "t", "c", consumer)
    assert(ring.map(_._1) == Seq(2L, 1L)) // newest first
    val (ok, dead) = WireCrypto.splitDecryptedAny(mixed, ring.map(_._2))
    // gen-1 and gen-2 messages decrypt; the unknown-key third dead-letters
    val okKeys = ChunkPipeline.decode(ok).collect().map(_.filename).toSet
    assert(okKeys == Set("a.bin", "b.bin"))
    assert(dead.count() == mixed.count() / 3)
  }

  test("a malformed announcement is skipped loudly; valid parties still " +
      "get their wrapped key") {
    val topicDir = Files.createTempDirectory("kx-badann").toString
    val good = KeyExchange.newIdentity()
    KeyExchange.announce(topicDir, "good", good)
    // garbage announcement for a second party (also covers the pre-signature
    // legacy format: a bare X.509 key with no signature is rejected too)
    Files.write(Paths.get(topicDir + ".reqs", "evil.pub"),
      "not a signed announcement".getBytes)
    Files.write(Paths.get(topicDir + ".reqs", "legacy.pub"),
      KeyExchange.generateKeyPair().getPublic.getEncoded)
    val producer = KeyExchange.newIdentity()
    val dataKey = KeyExchange.publishDataKey(topicDir, "t", "p", producer, 1L)
    // the good consumer still recovers the key; evil/legacy got nothing
    val got = KeyExchange.fetchDataKey(topicDir, "t", "good", good)
    assert(got.exists(_._2.sameElements(dataKey)))
    assert(KeyExchange.fetchDataKey(topicDir, "t", "evil", good).isEmpty)
    assert(KeyExchange.fetchDataKey(topicDir, "t", "legacy", good).isEmpty)
  }

  test("a FORGED announcement — someone else's name signed by the wrong " +
      "key — is dropped; the honest binding for that name survives") {
    val topicDir = Files.createTempDirectory("kx-forge").toString
    val honest = KeyExchange.newIdentity()
    val attacker = KeyExchange.newIdentity()
    // a structurally-valid announcement whose signature bytes don't verify
    // against the embedded signing key must be dropped entirely
    KeyExchange.announce(topicDir, "victim", attacker)
    val p = Paths.get(topicDir + ".reqs", "victim.pub")
    val forged = Files.readAllBytes(p)
    forged(forged.length - 1) = (forged(forged.length - 1) ^ 0x01).toByte
    Files.write(p, forged)
    // the tampered message is dropped entirely
    assert(!KeyExchange.announcements(topicDir).contains("victim"))
    // the honest party re-announces (last write wins) and is wrapped for
    KeyExchange.announce(topicDir, "victim", honest)
    val ann = KeyExchange.announcements(topicDir)
    assert(ann.contains("victim") &&
      ann("victim").fingerprint == honest.fingerprint)
    // an announcement RENAMED to a different party fails too: the party
    // name is inside the signed payload
    KeyExchange.announce(topicDir, "alice", attacker)
    Files.move(Paths.get(topicDir + ".reqs", "alice.pub"),
      Paths.get(topicDir + ".reqs", "bob.pub"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(!KeyExchange.announcements(topicDir).contains("bob"))
  }

  test("consumer allow-list: only fingerprinted identities get a wrapped key; " +
      "the wrapped COUNT surfaces an over-tight list") {
    val topicDir = Files.createTempDirectory("kx-allow").toString
    val c1 = KeyExchange.newIdentity()
    val c2 = KeyExchange.newIdentity()
    KeyExchange.announce(topicDir, "c1", c1)
    KeyExchange.announce(topicDir, "c2", c2)
    val producer = KeyExchange.newIdentity()
    val (dataKey, n) = KeyExchange.publishDataKeyCounted(topicDir, "t", "p",
      producer, 1L, allowedConsumers = Some(Set(c1.fingerprint)))
    assert(n == 1)
    assert(KeyExchange.fetchDataKey(topicDir, "t", "c1", c1)
      .exists(_._2.sameElements(dataKey)))
    assert(KeyExchange.fetchDataKey(topicDir, "t", "c2", c2).isEmpty)
    // a list matching NOBODY reports zero wraps — the caller's cue to stop
    // before encrypting a topic nobody can read
    val (_, zero) = KeyExchange.publishDataKeyCounted(topicDir, "t", "p",
      producer, 2L, allowedConsumers = Some(Set("deadbeef")))
    assert(zero == 0)
  }

  test("a key-message filename whose 19-digit generation overflows Long is " +
      "skipped, not a poison pill") {
    val topicDir = Files.createTempDirectory("kx-poison").toString
    val consumer = KeyExchange.newIdentity()
    KeyExchange.announce(topicDir, "c", consumer)
    val producer = KeyExchange.newIdentity()
    val k1 = KeyExchange.publishDataKey(topicDir, "t", "p", producer, 1L)
    // plant a filename that matches the \\d{19} shape but overflows Long —
    // open mode allows untrusted writers on the side topic
    Files.write(Paths.get(topicDir + ".keys", "c.9999999999999999999.key"),
      "garbage".getBytes)
    val ring = KeyExchange.fetchAllDataKeys(topicDir, "t", "c", consumer)
    assert(ring.map(_._1) == Seq(1L))
    assert(ring.head._2.sameElements(k1))
  }

  test("producer pinning: key messages from an unpinned or forged producer " +
      "are rejected; the pinned producer's keys flow") {
    val topicDir = Files.createTempDirectory("kx-pin").toString
    val consumer = KeyExchange.newIdentity()
    KeyExchange.announce(topicDir, "c", consumer)
    val legit = KeyExchange.newIdentity()
    val rogue = KeyExchange.newIdentity()
    val kLegit = KeyExchange.publishDataKey(topicDir, "t", "p", legit, 1L)
    KeyExchange.publishDataKey(topicDir, "t", "p", rogue, 2L) // newer gen!
    // unpinned: the rogue's (signature-valid) newer generation wins — this
    // is exactly the open-mode posture the scaladoc warns about
    val open = KeyExchange.fetchDataKey(topicDir, "t", "c", consumer)
    assert(open.exists(_._1 == 2L))
    // pinned to the legit producer: the rogue's message is rejected and the
    // legit generation-1 key is the one that flows
    val pinned = KeyExchange.fetchDataKey(topicDir, "t", "c", consumer,
      trustedProducers = Some(Set(legit.fingerprint)))
    assert(pinned.exists { case (gen, k) => gen == 1L && k.sameElements(kLegit) })
    // a key message whose signature bytes are flipped fails outright
    val d = Paths.get(topicDir + ".keys")
    Files.list(d).forEach { p =>
      if (p.getFileName.toString.contains("0000000000000000001")) {
        val b = Files.readAllBytes(p)
        b(b.length - 1) = (b(b.length - 1) ^ 0x01).toByte
        Files.write(p, b)
      }
    }
    assert(KeyExchange.fetchDataKey(topicDir, "t", "c", consumer,
      trustedProducers = Some(Set(legit.fingerprint))).isEmpty)
  }

  test("rotation: highest generation wins; tampered key message is skipped " +
      "not fatal") {
    val topicDir = Files.createTempDirectory("kx-rot").toString
    val topic = "osn_rot"
    val producer = KeyExchange.newIdentity()
    val consumer = KeyExchange.newIdentity()
    KeyExchange.announce(topicDir, "c", consumer)
    KeyExchange.publishDataKey(topicDir, topic, "p", producer, 1L)
    val k2 = KeyExchange.publishDataKey(topicDir, topic, "p", producer, 2L)
    val got = KeyExchange.fetchDataKey(topicDir, topic, "c", consumer)
    assert(got.exists { case (gen, k) => gen == 2L && k.sameElements(k2) })

    // flip a wrapped-ciphertext byte in the gen-2 message: the producer
    // signature over the wrapped bytes fails, fetch falls back to the
    // intact gen-1 key instead of throwing
    val d = Paths.get(topicDir + ".keys")
    Files.list(d).forEach { p =>
      if (p.getFileName.toString.contains("0000000000000000002")) {
        val b = Files.readAllBytes(p)
        b(b.length - 1) = (b(b.length - 1) ^ 0x01).toByte
        Files.write(p, b)
      }
    }
    val fallback = KeyExchange.fetchDataKey(topicDir, topic, "c", consumer)
    assert(fallback.exists(_._1 == 1L))
  }
}
