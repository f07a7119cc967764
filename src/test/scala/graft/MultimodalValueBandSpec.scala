package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Multimodal

/** r13 verdict item 2 — the low-diversity-universe banding fix.
  *
  * The doc-level 4×16 band join saturated on duplicate-heavy universes:
  * f copies of one motif fill one bucket until `maxBandDocs` refuses it
  * outright — a silent recall cliff exactly where duplication is worst.
  * The r14 formulation bands DISTINCT SKETCH VALUES (identical sketches
  * pair through an exact equi-join no guard touches), so these tests pin:
  *
  *  1. NO RECALL CLIFF: a duplicate class far larger than the band guard
  *     still yields its full hamming-0 pair set, and the op remains
  *     brute-force-equal overall under a guard the OLD formulation would
  *     have tripped (class size 40 vs guard 4).
  *  2. INCIDENCE ≡ PAIRS: `modalityDupProfile`'s value-side incidence
  *     (per-value counting, no doc-pair frame) is row-identical to the
  *     cell profile derived from the pair operators themselves —
  *     including the vote-gated video modality, whose pair-free form
  *     rests on the 2-of-3-slots pigeonhole decomposition.
  */
class MultimodalValueBandSpec extends SparkTestBase {

  test("phashDupPairs: a 40-copy identical class pairs completely under " +
    "maxBandDocs=4 (the old doc-level guard would refuse the bucket), " +
    "and the output equals brute-force popcount pairs") {
    val s = spark
    import s.implicits._
    // 448 = lcm(32, 64, 7): congruent ids share motif, noise pixel and
    // noise magnitude — byte-identical BMP payloads, identical aHash.
    val dupClass = (0 until 40).map(i => 448L * i)
    val others = Seq(1L, 2L, 3L, 5L, 17L, 33L, 65L) // assorted motifs
    val docs = (dupClass ++ others).map(d => (d, "unused"))
      .toDF("doc_id", "text")
    val payload = Multimodal.synthBmpPayload(docs)
    val got = Multimodal.phashDupPairs(payload, maxBandDocs = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the identical class alone contributes C(40,2) hamming-0 pairs
    val classPairs = for {
      a <- dupClass; b <- dupClass if a < b
    } yield (a, b)
    classPairs.foreach { p =>
      assert(got.get(p).contains(0L), s"identical-class pair $p lost")
    }
    // full brute-force equality over the collected hashes
    val hashes = Multimodal.perceptualHash(payload)
      .select("doc_id", "ahash_hex").collect()
      .map(r => r.getLong(0) -> java.lang.Long.parseUnsignedLong(
        r.getString(1), 16)).toMap
    val brute = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(got === brute,
      "distinct-value banding must equal brute force under a tiny guard")
  }

  test("nearValuePairs: a boilerplate band (more distinct values than " +
    "maxBandVals sharing band 0) CASCADES into 12-bit sub-bands " +
    "instead of dropping — pairs agreeing on NO unsaturated band are " +
    "still found, and the cascade is a no-op when nothing saturates") {
    val s = spark
    import s.implicits._
    // 6 (base, partner) pairs, all 12 values sharing band 0 (the
    // boilerplate low 16 bits); each partner differs from its base in
    // exactly 3 bits, ONE PER band 1/2/3 — so every pair agrees ONLY
    // on band 0. Bases carry distinctive bits, so bands 1-3 are all
    // singleton buckets (pairless) and cross-pair hammings are > 3.
    val low = 0x1234L
    val bases = (0 until 6).map(p =>
      low | (1L << (17 + p)) | (1L << (33 + p)) | (1L << (49 + p)))
    val partners = bases.map(_ ^ (1L << 30) ^ (1L << 46) ^ (1L << 62))
    val vals = (bases ++ partners).toDF("v")
    val expected = bases.zip(partners)
      .map { case (a, b) => (a, b, 3L) }.toSet
    // band-0 bucket holds 12 distinct values > guard 8: the OLD
    // formulation dropped it and found nothing; the cascade re-splits
    // by the 48 outside bits and every pair meets again in sub-band 0
    val got = Multimodal.nearValuePairs(vals, Nil, 3, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected, "cascade must recover boilerplate-band pairs")
    // with the guard relaxed nothing saturates — same answer
    val relaxed = Multimodal.nearValuePairs(vals, Nil, 3, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(relaxed === expected, "cascade ≡ plain banding when idle")
  }

  test("bandRefusalCensus: a DOUBLY-saturated universe (values agreeing " +
    "on 28 bits beyond the guard) reports its refused buckets and " +
    "stranded values — the pairs nearValuePairs silently loses are now " +
    "countable; a merely-saturated universe that cascades cleanly " +
    "reports 0, and grouping scopes the census per group") {
    val s = spark
    import s.implicits._
    // 4 values agreeing on band 0 (low 16), on band-0's sub-band 0
    // (bits 16-27), and on bands 2/3 (zeros) — differing ONLY at bits
    // 28-29. Under guard 2: band 0/2/3 buckets all saturate (4 > 2),
    // and each cascade re-key leaves >2 values agreeing on some 12-bit
    // sub-band → doubly-saturated. Worked census: band 0 refuses subs
    // {0,2,3}, bands 2 and 3 refuse 3 subs each → 9 buckets, all 4
    // values stranded.
    val vals = (0L to 3L).map(k => (k << 28) | 0x0123456L).toDF("v")
    val census = Multimodal.bandRefusalCensus(vals, Nil, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(census === ((9L, 4L)), "9 doubly-saturated buckets strand 4")
    // ...and the pair loss the census makes visible is real: these are
    // genuine hamming-2 neighbours, yet every agreeing (sub-)bucket is
    // refused, so the banded join finds nothing
    assert(Multimodal.nearValuePairs(vals, Nil, 3, 2).count() === 0L)
    // the cascade fixture from the test above (12 values saturating
    // band 0 but resolving in singleton-ish sub-buckets) refuses NOTHING
    val low = 0x1234L
    val bases = (0 until 6).map(p =>
      low | (1L << (17 + p)) | (1L << (33 + p)) | (1L << (49 + p)))
    val partners = bases.map(_ ^ (1L << 30) ^ (1L << 46) ^ (1L << 62))
    val healthy = Multimodal.bandRefusalCensus(
        (bases ++ partners).toDF("v"), Nil, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(healthy === ((0L, 0L)), "a cascading universe refuses nothing")
    // grouped census: the same 4 values split 2-per-slot never reach
    // the guard — saturation is judged within a group, like the
    // per-slot video banding
    val grouped = Multimodal.bandRefusalCensus(
        (0L to 3L).map(k => (k % 2, (k << 28) | 0x0123456L))
          .toDF("slot", "v"), Seq("slot"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(grouped === ((0L, 0L)), "census is per group")
  }

  test("mediaTakedownStatus: banded serve off the persisted index " +
    "equals brute popcount over the hashes (self-matches at 0 " +
    "included), and an appended index serves the identical answer") {
    val s = spark
    import s.implicits._
    // 60 sequential ids: ~2 docs per BMP motif class with noise
    // variants — exact and near matches both exercised
    val docs = (0L until 60L).map(i => (i, "unused"))
      .toDF("doc_id", "text")
    val payload = Multimodal.synthBmpPayload(docs)
    Multimodal.phashWriteIndex(payload, "graft_test_phidx", buckets = 4)
    val requests = Multimodal.synthBmpPayload(
      docs.filter(col("doc_id") % 7 === 0))
    val got = Multimodal
      .mediaTakedownStatus(s, "graft_test_phidx", requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val hashes = Multimodal.perceptualHash(payload)
      .select("doc_id", "ahash_hex").collect()
      .map(r => r.getLong(0) -> java.lang.Long.parseUnsignedLong(
        r.getString(1), 16)).toMap
    val brute = (for {
      q <- hashes.keys if q % 7 == 0
      c <- hashes.keys
      h = java.lang.Long.bitCount(hashes(q) ^ hashes(c)) if h <= 3
    } yield (q, c, h.toLong)).toSet
    assert(got === brute, "banded serve must equal brute popcount")
    assert(brute.exists { case (q, c, h) => q == c && h == 0 },
      "a library request matches itself at hamming 0")
    assert(Multimodal.phashIndexAudit(s, "graft_test_phidx", requests)
      .select("n_buckets").head().getLong(0) === 4L,
      "the audit reports the catalogue's bucket count")
    // append ≡ rebuild: build on evens, append odds, same answers
    Multimodal.phashWriteIndex(
      Multimodal.synthBmpPayload(docs.filter(col("doc_id") % 2 === 0)),
      "graft_test_phidx_a", buckets = 4)
    Multimodal.phashIndexAppend(
      Multimodal.synthBmpPayload(docs.filter(col("doc_id") % 2 === 1)),
      "graft_test_phidx_a")
    val gotAppended = Multimodal
      .mediaTakedownStatus(s, "graft_test_phidx_a", requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(gotAppended === got, "append must serve what rebuild serves")
    // forget ≡ never-held: drop the %5==0 assets from the full index;
    // serving must equal an index built without them (requests keep
    // their content — a forgotten asset can still ASK, it just can't
    // be matched as a holder), and the brute answer restricted to the
    // surviving holder set confirms no ghost rows linger
    Multimodal.mediaIndexForget(s, "graft_test_phidx_a",
      docs.filter(col("doc_id") % 5 === 0).select("doc_id"))
    val gotForgot = Multimodal
      .mediaTakedownStatus(s, "graft_test_phidx_a", requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(gotForgot === brute.filter(_._2 % 5 != 0),
      "forget must serve exactly the never-held answer")
    assert(!gotForgot.exists { case (q, c, _) => q == 0L && c == 0L },
      "the forgotten asset no longer matches even its own request")
  }

  test("audioTakedownStatus: banded serve off the persisted " +
    "fingerprint index equals brute popcount over the WAV " +
    "energy-delta fingerprints") {
    val s = spark
    import s.implicits._
    // >=128-byte texts so every clip is audio-valid; doc 0 and doc 9
    // share a text (identical PCM -> hamming-0 partners)
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    val texts = (0 until 10).map { i =>
      if (i == 0 || i == 9) shared
      else (0 until 40).map(j => "a" * (1 + ((i + j * 7) % 11)))
        .mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val payload = Multimodal.synthWavPayload(docs)
    Multimodal.audioWriteIndex(payload, "graft_test_audx", buckets = 4)
    val requests = Multimodal.synthWavPayload(
      docs.filter(col("doc_id") % 9 === 0)) // docs 0 and 9
    val got = Multimodal
      .audioTakedownStatus(s, "graft_test_audx", requests)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val fps = Multimodal.audioFingerprint(payload)
      .select("doc_id", "fp_hex").collect()
      .map(r => r.getLong(0) -> java.lang.Long.parseUnsignedLong(
        r.getString(1), 16)).toMap
    val brute = (for {
      q <- fps.keys if q % 9 == 0
      c <- fps.keys
      h = java.lang.Long.bitCount(fps(q) ^ fps(c)) if h <= 3
    } yield (q, c, h.toLong)).toSet
    assert(got === brute, "audio serve must equal brute popcount")
    assert(got.contains((0L, 9L, 0L)) && got.contains((9L, 0L, 0L)),
      "identical-PCM partners match at hamming 0 in both directions")
  }

  test("videoTakedownStatus: per-slot banded serve off the persisted " +
    "keyframe index equals brute per-slot popcount + the 2-of-3 vote " +
    "gate; a library request votes 3/3 at ham_sum 0 for itself") {
    val s = spark
    import s.implicits._
    val docs = (0L until 60L).map(i => (i, "unused"))
      .toDF("doc_id", "text")
    Multimodal.videoWriteIndex(Multimodal.synthVideoPayload(docs),
      "graft_test_vidx", buckets = 4)
    val requests = Multimodal.synthVideoPayload(
      docs.filter(col("doc_id") % 7 === 0))
    val got = Multimodal
      .videoTakedownStatus(s, "graft_test_vidx", requests)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // brute: per-slot hashes from the report form
    val bySlot = Multimodal
      .videoFingerprint(Multimodal.synthVideoPayload(docs))
      .collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> java.lang.Long
        .parseUnsignedLong(r.getString(4), 16)).toMap
    val ids = (0L until 60L)
    val brute = (for {
      q <- ids if q % 7 == 0
      c <- ids
      votes = (0 to 2).flatMap { sl =>
        val h = java.lang.Long.bitCount(
          bySlot((q, sl)) ^ bySlot((c, sl)))
        if (h <= 3) Some(h.toLong) else None
      }
      if votes.size >= 2
    } yield (q, c) -> ((votes.size.toLong, votes.sum))).toMap
    assert(got === brute, "banded vote serve must equal brute votes")
    (0L until 60L).filter(_ % 7 == 0).foreach { q =>
      assert(got((q, q)) === ((3L, 0L)), s"self-match of $q")
    }
  }

  test("modalityDupProfile: value-side incidence cells equal the cells " +
    "derived from the pair operators (text window, phash/audio ends, " +
    "vote-gated video ends) on a motif-rich 300-doc universe") {
    val s = spark
    import s.implicits._
    // 300 sequential ids: ~9-10 docs per BMP motif class with noise
    // variants (exact AND near pairs in every modality); every 3rd doc
    // shares one of two texts so text/audio dup cells populate too.
    // Texts are >=128 bytes so the WAV side stays audio-valid.
    val sharedA = (1 to 40).map(i => s"tok$i").mkString(" ")
    val sharedB = (1 to 40).map(i => s"gram$i").mkString(" ")
    def textFor(i: Long): String =
      if (i % 3 == 0) { if (i % 2 == 0) sharedA else sharedB }
      else (0 until 40).map(j => "a" * (1 + ((i + j * 7) % 11).toInt))
        .mkString(" ")
    val docs = (0L until 300L).map(i => (i, textFor(i)))
      .toDF("doc_id", "text")
    def ends(pairs: DataFrame): Set[Long] =
      pairs.select("doc_a").as[Long].collect().toSet ++
        pairs.select("doc_b").as[Long].collect().toSet
    val img = ends(Multimodal.phashDupPairs(Multimodal.synthBmpPayload(docs)))
    val aud = ends(Multimodal.audioDupPairs(Multimodal.synthWavPayload(docs)))
    val vid = ends(Multimodal.videoDupPairs(Multimodal.synthVideoPayload(docs)))
    assert(img.nonEmpty && aud.nonEmpty && vid.nonEmpty,
      "fixture must exercise every modality")
    val textDupIds = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap(_.map(_._1)).toSet
    val expected = (0L until 300L).map { d =>
      (if (textDupIds(d)) 1 else 0, if (img(d)) 1 else 0,
        if (aud(d)) 1 else 0, if (vid(d)) 1 else 0) -> d
    }.groupBy(_._1).map { case (k, v) =>
      k -> ((v.size.toLong, v.map(_._2).min))
    }
    val got = Multimodal.modalityDupProfile(docs).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
        ((r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected,
      "pair-free incidence must be row-identical to pair-derived cells")
  }
}
