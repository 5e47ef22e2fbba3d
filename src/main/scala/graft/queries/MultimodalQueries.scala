package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{EventAnalytics, Multimodal, Transforms}

import SparkEntry._

/** Multimodal family (asset metadata, frames, resizing, content-defined
  * chunking, perceptual hashes, audio), followed by the time-series,
  * behavioral and distribution queries declared under the same section.
  * Each query is declared once, with its plan and its check; [[SparkEntry]]
  * derives the battery views from these lists. */
private[graft] object MultimodalQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== extensions: multimodal plumbing =====
    Query("mm_meta", (s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "text")
      assets.select(col("asset_id"), col("meta.byte_len").as("byte_len"),
        md5(col("content")).as("content_md5"))
    },
      Oracle("""SELECT doc_id AS asset_id, octet_length(encode(text)) AS byte_len,
        | md5(text) AS content_md5 FROM documents""".stripMargin)),

    Query("mm_frames", (s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "video")
      Multimodal.sampleFrames(
        Multimodal.decodeAssets(assets).toDF(), stride = 7)
        .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"))
    },
      Oracle("""SELECT doc_id AS asset_id, unnest(range(0,
        |   1 + CAST(octet_length(encode(text)) % 30 AS INT), 7)) AS frame_idx
        | FROM documents""".stripMargin)),

    Query("mm_resize", (s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "image")
      Multimodal.resizePlan(Multimodal.decodeAssets(assets).toDF(),
        maxSide = 32)
    },
      Oracle("""WITH d AS (SELECT doc_id AS asset_id,
        |    16 + octet_length(encode(text)) % 64 AS w,
        |    16 + ((octet_length(encode(text)) // 7) % 64) AS h FROM documents),
        |s AS (SELECT asset_id, w, h,
        |    LEAST(1000, 32000 // GREATEST(w, h)) AS sc FROM d)
        |SELECT asset_id, CAST(sc AS BIGINT) AS scale_permille,
        |  CAST(w * sc // 1000 AS BIGINT) AS out_w,
        |  CAST(h * sc // 1000 AS BIGINT) AS out_h
        |FROM s""".stripMargin)),

    Query("mm_patches", (s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"),
        "doc_id", "text", "source", "image")
      Multimodal.patchGrid(Multimodal.decodeAssets(assets).toDF(), tile = 16)
        .select(col("asset_id"), col("px").cast("long").as("px"),
          col("py").cast("long").as("py"))
    },
      Oracle("""WITH d AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) AS n FROM documents),
        |dims AS (SELECT asset_id, 16 + n % 64 AS w,
        |    16 + ((n // 7) % 64) AS h FROM d),
        |px AS (SELECT asset_id, h,
        |    unnest(range(0, CAST(ceil(w / 16.0) AS BIGINT))) AS px
        |  FROM dims)
        |SELECT asset_id, px,
        |  unnest(range(0, CAST(ceil(h / 16.0) AS BIGINT))) AS py
        |FROM px""".stripMargin)),

    // Real container decode, end-to-end and oracle-checkable: per-row BMP /
    // WAV / PNG / GIF / JPEG containers are SYNTHESIZED from each
    // document's byte length with codegen'd expressions (hex/concat/unhex
    // fused into the scan), then decoded back by the real header probe in
    // the mapPartitions batch — all five byte layouts (LE32, RIFF chunk
    // walk, network-order PNG chunks, LE16 GIF descriptor, JPEG marker
    // walk over APP0 to SOF0) round-tripped. The oracle recomputes the
    // expected dims/frames arithmetically — agreeing requires both the
    // synthesis AND the byte-layout parse to be correct. Zero shuffle:
    // project → mapPartitions → project.
    Query("mm_decode", (s, dir) => {
      val len = length(encode(col("text"), "UTF-8")) // octet length
      val m = col("doc_id") % 5
      val assets = t(s, dir, "documents").select(
        col("doc_id").cast("long").as("asset_id"),
        when(m === 1, lit("audio")).otherwise(lit("image")).as("modality"),
        when(m === 0,
          Multimodal.bmpContent((len % 300) + 1,
            (floor(len / 7) % 200 + 1).cast("int")))
          .when(m === 1, Multimodal.wavContent(len * 4))
          .when(m === 2,
            Multimodal.pngContent((len % 500) + 1,
              (floor(len / 3) % 400 + 1).cast("int")))
          .when(m === 3,
            Multimodal.gifContent((len % 300) + 2,
              (floor(len / 5) % 250 + 1).cast("int")))
          .otherwise(
            Multimodal.jpegContent((len % 400) + 1,
              (floor(len / 11) % 300 + 1).cast("int"))).as("content"))
      Multimodal.decodeAssets(assets)
        .select(col("asset_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    },
      Oracle("""SELECT doc_id AS asset_id,
        | CASE doc_id % 5
        |   WHEN 0 THEN CAST(octet_length(encode(text)) % 300 + 1 AS BIGINT)
        |   WHEN 1 THEN 0
        |   WHEN 2 THEN CAST(octet_length(encode(text)) % 500 + 1 AS BIGINT)
        |   WHEN 3 THEN CAST(octet_length(encode(text)) % 300 + 2 AS BIGINT)
        |   ELSE CAST(octet_length(encode(text)) % 400 + 1 AS BIGINT)
        |   END AS width,
        | CASE doc_id % 5
        |   WHEN 0 THEN CAST((octet_length(encode(text)) // 7) % 200 + 1
        |     AS BIGINT)
        |   WHEN 1 THEN 0
        |   WHEN 2 THEN CAST((octet_length(encode(text)) // 3) % 400 + 1
        |     AS BIGINT)
        |   WHEN 3 THEN CAST((octet_length(encode(text)) // 5) % 250 + 1
        |     AS BIGINT)
        |   ELSE CAST((octet_length(encode(text)) // 11) % 300 + 1 AS BIGINT)
        |   END AS height,
        | CASE WHEN doc_id % 5 = 1
        |   THEN CAST(octet_length(encode(text)) AS BIGINT)
        |   ELSE 1 END AS n_frames
        |FROM documents""".stripMargin)),

    // content-defined chunking over synthesized binary payloads
    // (Muthitacharoen et al. 2001 / FastCDC gear window): payloads
    // alternate 512-byte SHARED and asset-specific segments, so chunk
    // signatures genuinely deduplicate across assets
    // ([[Multimodal.cdcChunks]] — one byte explode, one window pass).
    Query("cdc_chunks", (s, dir) => cdcChunkTable(s, dir),
      Oracle(
        // CDC replay: the byte formula, gear, 8-lag rolling hash, boundary
        // cumsum, and chunk-relative positional signature are pure integer
        // window/aggregate algebra on both sides — null leading lags void
        // the first window-1 boundary tests identically
        cdcChunksSqlBody)),

    // the dedup pay-off of cdc_chunks: corpus-level chunk-store stats —
    // distinct (signature, length) chunks vs total, and the bytes a
    // content-addressed store saves (Σ (copies − 1)·len).
    Query("cdc_dedup", (s, dir) => {
      cdcChunkTable(s, dir).groupBy(col("chunk_sig"), col("len"))
        .agg(count(lit(1)).as("__cnt"))
        .agg(sum(col("__cnt")).as("n_chunks"),
          count(lit(1)).as("n_unique"),
          sum(col("__cnt") * col("len")).as("bytes_total"),
          sum((col("__cnt") - 1L) * col("len")).as("bytes_saved"))
        .select(col("n_chunks"), col("n_unique"),
          expr("(1000 * (n_chunks - n_unique)) DIV n_chunks")
            .as("dup_permille"),
          col("bytes_total"), col("bytes_saved"))
    },
      Oracle(s"""WITH chunks AS ($cdcChunksSqlBody)
        |SELECT CAST(SUM(cnt) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(*) AS BIGINT) AS n_unique,
        |  CAST((1000 * (SUM(cnt) - COUNT(*))) // SUM(cnt) AS BIGINT)
        |    AS dup_permille,
        |  CAST(SUM(cnt * len) AS BIGINT) AS bytes_total,
        |  CAST(SUM((cnt - 1) * len) AS BIGINT) AS bytes_saved
        |FROM (SELECT chunk_sig, len, COUNT(*) AS cnt
        |  FROM chunks GROUP BY 1, 2) u""".stripMargin)),

    // perceptual image fingerprint over BMPs synthesized WITH real pixel
    // arrays (bottom-up rows, 4-byte padding): dims decoded from header
    // bytes, 64 cell-center pixels sampled, integer luma + mean-threshold
    // bits ([[Multimodal.imageAHash]]); the oracle regenerates everything
    // from the pixel generator's closed form.
    Query("mm_ahash", (s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      // pixel synthesis is the expensive per-row stage: rebalance the
      // narrow parquet input first (same contract as the shingle/vector
      // pipelines) so 1000 images aren't generated in one task
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.bmpPixelContent(col("doc_id").cast("long"),
            (len % 16 + 8).cast("long"),
            (len % 12 + 8).cast("long")).as("content"))
      Multimodal.imageAHash(assets, "asset_id", "content")
    },
      Oracle("""WITH a AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) % 16 + 8 AS w,
        |    octet_length(encode(text)) % 12 + 8 AS h
        |  FROM documents WHERE doc_id % 5 = 0),
        |d AS (SELECT asset_id, w, h, ((3*w + 3) // 4) * 4 AS rs FROM a),
        |c AS (SELECT asset_id, w, h, rs, cell % 8 AS cx, cell // 8 AS cy
        |  FROM d, unnest(generate_series(0, 63)) AS t(cell)),
        |c2 AS (SELECT asset_id, w, h, cx, cy,
        |    (h - 1 - ((2*cy + 1) * h) // 16) * rs
        |      + 3 * (((2*cx + 1) * w) // 16) AS k
        |  FROM c),
        |l AS (SELECT asset_id, w, h, cx, cy,
        |    (299 * ((asset_id*31 + (k + 2)*2654435761) % 256)
        |   + 587 * ((asset_id*31 + (k + 1)*2654435761) % 256)
        |   + 114 * ((asset_id*31 + k*2654435761) % 256)) // 1000 AS luma
        |  FROM c2),
        |s AS (SELECT asset_id, SUM(luma) AS tot FROM l GROUP BY 1),
        |b AS (SELECT l.asset_id, l.w, l.h, l.cy,
        |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
        |      AS rb
        |  FROM l JOIN s USING (asset_id) GROUP BY 1, 2, 3, 4)
        |SELECT asset_id, CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  string_agg(lpad(hex(CAST(rb AS BIGINT)), 2, '0'), ''
        |    ORDER BY cy) AS ahash_hex
        |FROM b GROUP BY 1, 2, 3""".stripMargin)),

    // real PNG scanline decode (closing the header-vs-pixel gap for the
    // format whose compression machinery is already in-tree): synthesize
    // VALID PNGs — zlib IDAT of filtered scanlines, filter type
    // (doc_id DIV 5) % 5 so all five PNG filters 0-4 are exercised —
    // then inflate + un-filter ([[graft.functions.PngCodec]]), repackage
    // the TRUE pixels as the engine's BMP layout, and aHash them.
    // Un-filtering exactly inverts filtering, so the oracle recomputes
    // the hash from the closed-form pixel formula and never parses
    // binary; a filter/unfilter bug on any scanline = hash diff.
    Query("mm_png_pixels", (s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          graft.functions.PngCodec.synth(col("doc_id").cast("long"),
            (len % 16 + 8), (len % 12 + 8),
            expr("(CAST(doc_id AS BIGINT) DIV 5) % 5")).as("content"))
      Multimodal.imageAHash(
          assets.select(col("asset_id"),
            graft.functions.PngCodec.pngToBmp(col("content"))
              .as("content")),
          "asset_id", "content")
        .withColumn("filter_type", expr("(asset_id DIV 5) % 5"))
    },
      Oracle(
        // PNG-pixel replay: the decoded-and-unfiltered pixels equal the
        // closed-form pre-filter formula (un-filtering inverts filtering),
        // so the oracle samples the formula at the PNG top-down raw index
        // k = py·3w + 3·px — no binary parsing, no filter math; every
        // engine-side inflate/un-filter defect lands here as a hash diff.
        """WITH a AS (SELECT doc_id AS asset_id,
          |    octet_length(encode(text)) % 16 + 8 AS w,
          |    octet_length(encode(text)) % 12 + 8 AS h
          |  FROM documents WHERE doc_id % 5 = 0),
          |c AS (SELECT asset_id, w, h, cell % 8 AS cx, cell // 8 AS cy
          |  FROM a, unnest(generate_series(0, 63)) AS t(cell)),
          |c2 AS (SELECT asset_id, w, h, cx, cy,
          |    (((2*cy + 1) * h) // 16) * 3 * w
          |      + 3 * (((2*cx + 1) * w) // 16) AS k
          |  FROM c),
          |l AS (SELECT asset_id, w, h, cx, cy,
          |    (299 * ((asset_id*31 + (k + 2)*2654435761) % 256)
          |   + 587 * ((asset_id*31 + (k + 1)*2654435761) % 256)
          |   + 114 * ((asset_id*31 + k*2654435761) % 256)) // 1000 AS luma
          |  FROM c2),
          |s AS (SELECT asset_id, SUM(luma) AS tot FROM l GROUP BY 1),
          |b AS (SELECT l.asset_id, l.w, l.h, l.cy,
          |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
          |      AS rb
          |  FROM l JOIN s USING (asset_id) GROUP BY 1, 2, 3, 4)
          |SELECT asset_id, CAST(w AS BIGINT) AS width,
          |  CAST(h AS BIGINT) AS height,
          |  string_agg(lpad(hex(CAST(rb AS BIGINT)), 2, '0'), ''
          |    ORDER BY cy) AS ahash_hex,
          |  CAST((asset_id // 5) % 5 AS BIGINT) AS filter_type
          |FROM b GROUP BY 1, 2, 3""".stripMargin)),

    // image near-dup tier: quads of perturbed 16x12 BMPs (same base
    // pixels, sparse byte shifts) hashed by [[Multimodal.imageAHash]],
    // then banded Hamming search ([[Multimodal.ahashHammingPairs]] —
    // 8-band pigeonhole, never all-pairs; the oracle IS all-pairs, so a
    // missed candidate would surface as a row diff).
    Query("mm_phash_pairs", (s, dir) => {
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.bmpPixelContent(
            expr("CAST(doc_id DIV 20 AS BIGINT)"), lit(16L), lit(12L),
            expr("CAST(((doc_id DIV 5) % 4) * 85 AS BIGINT)"))
            .as("content"))
      Multimodal.ahashHammingPairs(
        Multimodal.imageAHash(assets, "asset_id", "content"),
        "asset_id", "ahash_hex", maxDist = 7)
    },
      Oracle("""WITH a AS (SELECT doc_id AS asset_id, doc_id // 20 AS seed,
        |    ((doc_id // 5) % 4) * 85 AS pert
        |  FROM documents WHERE doc_id % 5 = 0),
        |c AS (SELECT asset_id, seed, pert, cell % 8 AS cx, cell // 8 AS cy
        |  FROM a, unnest(generate_series(0, 63)) AS t(cell)),
        |c2 AS (SELECT asset_id, seed, pert, cx, cy,
        |    (12 - 1 - ((2*cy + 1) * 12) // 16) * 48
        |      + 3 * (((2*cx + 1) * 16) // 16) AS k
        |  FROM c),
        |l AS (SELECT asset_id, cx, cy,
        |    (299 * v2 + 587 * v1 + 114 * v0) // 1000 AS luma
        |  FROM (SELECT *,
        |      ((seed*31 + k*2654435761) % 256 + pert *
        |        (CASE WHEN k % 97 = 0 THEN 1 ELSE 0 END)) % 256 AS v0,
        |      ((seed*31 + (k+1)*2654435761) % 256 + pert *
        |        (CASE WHEN (k+1) % 97 = 0 THEN 1 ELSE 0 END)) % 256 AS v1,
        |      ((seed*31 + (k+2)*2654435761) % 256 + pert *
        |        (CASE WHEN (k+2) % 97 = 0 THEN 1 ELSE 0 END)) % 256 AS v2
        |    FROM c2)),
        |s AS (SELECT asset_id, SUM(luma) AS tot FROM l GROUP BY 1),
        |b AS (SELECT l.asset_id, l.cy,
        |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
        |      AS rb
        |  FROM l JOIN s USING (asset_id) GROUP BY 1, 2),
        |hl AS (SELECT asset_id,
        |    CAST(SUM(CASE WHEN cy < 4 THEN rb << (8*(3-cy)) ELSE 0 END)
        |      AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN cy >= 4 THEN rb << (8*(7-cy)) ELSE 0 END)
        |      AS BIGINT) AS lo
        |  FROM b GROUP BY 1)
        |SELECT x.asset_id AS a, y.asset_id AS b,
        |  CAST(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))
        |    AS BIGINT) AS hamming
        |FROM hl x JOIN hl y ON x.asset_id < y.asset_id
        |WHERE bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo))
        |  <= 7""".stripMargin)),

    // windowed PCM energy over synthesized WAVs WITH real payloads: the
    // decoder reads actual bytes (LE32 data length, s16le samples,
    // sign-extension — [[Multimodal.pcmWindowEnergy]]); the oracle
    // regenerates the expected energies from the generator's closed form
    // without parsing binary, so a hash match proves the byte decode.
    // shot segmentation over a synthetic 10-frame "video" per asset:
    // frame seeds change every 4 frames, so scene cuts land at f=4 and
    // f=8 (hamming 0 within a scene, large across); lag-hamming over the
    // per-frame aHashes finds them ([[Multimodal.sceneChanges]] — real
    // per-frame BMP decode, consecutive-frame windows, no pairwise join).
    Query("mm_scenes", (s, dir) => {
      val frames = Transforms.rebalanceIfNarrow(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 2),
          col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          explode(expr("sequence(0L, 9L)")).as("f"))
        .withColumn("content", Multimodal.bmpPixelContent(
          col("asset_id") * 7 + expr("f DIV 4"), lit(16L), lit(12L)))
        .withColumn("fid", col("asset_id") * 16 + col("f"))
      val hashes = Multimodal.imageAHash(frames, "fid", "content")
      Multimodal.sceneChanges(
        hashes.select(expr("fid DIV 16").as("asset_id"),
          expr("fid % 16").as("f"), col("ahash_hex")),
        "asset_id", "f", "ahash_hex", cutHamming = 10)
    },
      Oracle("""WITH a AS (SELECT doc_id AS asset_id FROM documents
        |  WHERE doc_id % 5 = 2),
        |fr AS (SELECT asset_id, f, asset_id*7 + f // 4 AS seed
        |  FROM a, unnest(generate_series(0, 9)) AS t(f)),
        |c AS (SELECT asset_id, f, seed, cell % 8 AS cx, cell // 8 AS cy
        |  FROM fr, unnest(generate_series(0, 63)) AS t(cell)),
        |c2 AS (SELECT asset_id, f, seed, cx, cy,
        |    (12 - 1 - ((2*cy + 1) * 12) // 16) * 48 + 3 * (2*cx + 1) AS k
        |  FROM c),
        |l AS (SELECT asset_id, f, cx, cy,
        |    (299 * ((seed*31 + (k+2)*2654435761) % 256)
        |   + 587 * ((seed*31 + (k+1)*2654435761) % 256)
        |   + 114 * ((seed*31 + k*2654435761) % 256)) // 1000 AS luma
        |  FROM c2),
        |s AS (SELECT asset_id, f, SUM(luma) AS tot FROM l GROUP BY 1, 2),
        |b AS (SELECT l.asset_id, l.f, l.cy,
        |    SUM(CASE WHEN l.luma * 64 > s.tot THEN 1 << l.cx ELSE 0 END)
        |      AS rb
        |  FROM l JOIN s USING (asset_id, f) GROUP BY 1, 2, 3),
        |hl AS (SELECT asset_id, f,
        |    CAST(SUM(CASE WHEN cy < 4 THEN rb << (8*(3-cy)) ELSE 0 END)
        |      AS BIGINT) AS hi,
        |    CAST(SUM(CASE WHEN cy >= 4 THEN rb << (8*(7-cy)) ELSE 0 END)
        |      AS BIGINT) AS lo
        |  FROM b GROUP BY 1, 2),
        |lg AS (SELECT asset_id, hi, lo,
        |    lag(hi) OVER (PARTITION BY asset_id ORDER BY f) AS phi,
        |    lag(lo) OVER (PARTITION BY asset_id ORDER BY f) AS plo
        |  FROM hl),
        |hm AS (SELECT asset_id,
        |    CAST(bit_count(xor(hi, phi)) + bit_count(xor(lo, plo))
        |      AS BIGINT) AS ham
        |  FROM lg)
        |SELECT asset_id, COUNT(*) AS n_frames,
        |  CAST(SUM(CASE WHEN ham > 10 THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |    AS n_scenes,
        |  MAX(COALESCE(ham, 0)) AS max_cut_hamming
        |FROM hm GROUP BY 1""".stripMargin)),

    // VAD-style silence segmentation: per-frame PCM energy below the
    // per-sample mean threshold → rank-difference islands
    // ([[Multimodal.silenceRuns]] over the real s16le decode).
    Query("mm_silence", (s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 3),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.wavPcmContent(col("doc_id").cast("long"),
            (len % 256 + 512).cast("long")).as("content"))
      Multimodal.silenceRuns(
        Multimodal.pcmWindowEnergy(assets, "asset_id", "content", 64),
        "asset_id", "frame", "energy", "n_samples",
        meanThreshold = 358000000L)
    },
      Oracle("""WITH a AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) % 256 + 512 AS n
        |  FROM documents WHERE doc_id % 5 = 3),
        |sm AS (SELECT asset_id,
        |    unnest(generate_series(0, n - 1)) AS i FROM a),
        |v AS (SELECT asset_id, i // 64 AS frame,
        |    CASE WHEN (asset_id*31 + i*2654435761) % 65536 >= 32768
        |      THEN (asset_id*31 + i*2654435761) % 65536 - 65536
        |      ELSE (asset_id*31 + i*2654435761) % 65536 END AS s
        |  FROM sm),
        |e AS (SELECT asset_id, frame, COUNT(*) AS n_samples,
        |    SUM(s*s) AS energy FROM v GROUP BY 1, 2),
        |sil AS (SELECT asset_id, frame, frame - row_number() OVER (
        |      PARTITION BY asset_id ORDER BY frame) AS isl
        |  FROM e WHERE energy < 358000000 * n_samples),
        |r1 AS (SELECT asset_id, isl, COUNT(*) AS len FROM sil
        |  GROUP BY 1, 2),
        |r2 AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |    CAST(SUM(len) AS BIGINT) AS n_silent,
        |    CAST(MAX(len) AS BIGINT) AS max_run FROM r1 GROUP BY 1),
        |t AS (SELECT asset_id, COUNT(*) AS n_frames FROM e GROUP BY 1)
        |SELECT t.asset_id, t.n_frames,
        |  CAST(COALESCE(r2.n_runs, 0) AS BIGINT) AS n_runs,
        |  CAST(COALESCE(r2.n_silent, 0) AS BIGINT) AS n_silent,
        |  CAST(COALESCE(r2.max_run, 0) AS BIGINT) AS max_run
        |FROM t LEFT JOIN r2 USING (asset_id)""".stripMargin)),

    Query("mm_energy", (s, dir) => {
      val len = length(encode(col("text"), "UTF-8"))
      val assets = Transforms.rebalanceIfNarrow(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 1),
        col("doc_id"))
        .select(col("doc_id").cast("long").as("asset_id"),
          Multimodal.wavPcmContent(col("doc_id").cast("long"),
            (len % 128 + 64).cast("long")).as("content"))
      Multimodal.pcmWindowEnergy(assets, "asset_id", "content", 64)
    },
      Oracle("""WITH a AS (SELECT doc_id AS asset_id,
        |    octet_length(encode(text)) % 128 + 64 AS n
        |  FROM documents WHERE doc_id % 5 = 1),
        |s AS (SELECT asset_id,
        |    unnest(generate_series(0, n - 1)) AS i FROM a),
        |v AS (SELECT asset_id, i // 64 AS frame,
        |    CASE WHEN (asset_id*31 + i*2654435761) % 65536 >= 32768
        |      THEN (asset_id*31 + i*2654435761) % 65536 - 65536
        |      ELSE (asset_id*31 + i*2654435761) % 65536 END AS s
        |  FROM s)
        |SELECT asset_id, frame, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(s*s) AS BIGINT) AS energy
        |FROM v GROUP BY 1, 2""".stripMargin)),

    // trailing-1-hour rolling sum per user: a RANGE frame over epoch
    // seconds, so the frame is defined by VALUES, not row positions —
    // ties at the same second contribute identically no matter how the
    // partition is ordered internally (exact under any parallelism).
    // One shuffle on user_id; the frame scan is a single sorted pass.
    Query("rolling_window", (s, dir) =>
      Transforms.rollingSum(
        events(s, dir).select(col("event_id"), col("user_id"),
          expr("ts DIV 1000000000").as("ts_sec"),
          cents(col("value")).as("v_cents")),
        "user_id", "ts_sec", "v_cents", lookback = 3600L, as = "roll_cents")
        .select(col("event_id"), col("user_id"), col("roll_cents")),
      Oracle("""SELECT event_id, user_id,
        | CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) OVER (
        |   PARTITION BY user_id
        |   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS roll_cents
        | FROM events""".stripMargin)),

    // hourly activity grid per event type with gaps ZERO-FILLED — the
    // resampling step of time-series featurization. sequence() builds each
    // type's [min,max] hour grid (grid size is bounded by the time span,
    // never the row count), observed counts left-join in. ts arrives as
    // long nanos (events() canonicalizes the fixture encoding).
    Query("gapfill_hours", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        date_trunc("hour", timestamp_micros(expr("ts DIV 1000"))).as("h"))
      val counts = ev.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
      val grid = counts.groupBy("event_type")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
            .as("h"))
      grid.join(counts, Seq("event_type", "h"), "left")
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("n"), lit(0L)).as("n"))
    },
      Oracle("""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
        |  FROM c GROUP BY 1),
        |grid AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp)
        |SELECT g.event_type AS event_type,
        |  strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  COALESCE(c.n, CAST(0 AS BIGINT)) AS n
        |FROM grid g
        |LEFT JOIN c ON c.event_type = g.event_type AND c.h = g.h""".stripMargin)),

    // forward-fill (LOCF) sibling of gapfill_hours: each hour of the grid
    // carries the last observed value-close at or before it — the gap
    // treatment for rolling/lag features ([[EventAnalytics.gapfillLocf]]).
    Query("gapfill_locf", (s, dir) =>
      EventAnalytics.gapfillLocf(
          events(s, dir).select(col("event_type"),
            timestamp_micros(expr("ts DIV 1000")).as("tsm"),
            col("event_id"), cents(col("value")).as("v")),
          "event_type", "tsm", "v", "event_id")
        .select(col("k").as("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("observed"), col("close_filled").as("close_cents")),
      Oracle("""WITH e AS (SELECT event_type AS k, date_trunc('hour', ts) AS h,
        |    ts, event_id, CAST(round(value * 100, 0) AS BIGINT) AS v
        |  FROM events),
        |hr AS (SELECT k, h, v AS close FROM (
        |    SELECT k, h, v, row_number() OVER (PARTITION BY k, h
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |sp AS (SELECT k, MIN(h) AS h0, MAX(h) AS h1 FROM hr GROUP BY 1),
        |grid AS (SELECT k,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM sp),
        |j AS (SELECT g.k, g.h, hr.close,
        |    CASE WHEN hr.close IS NULL THEN CAST(0 AS BIGINT)
        |         ELSE CAST(1 AS BIGINT) END AS observed
        |  FROM grid g LEFT JOIN hr ON hr.k = g.k AND hr.h = g.h)
        |SELECT k AS event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  observed,
        |  last_value(close IGNORE NULLS) OVER (PARTITION BY k ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS close_cents
        |FROM j""".stripMargin)),

    // survival analysis: per-user activity span in hours, right-censored
    // when the user is still active in the corpus's final 24h; output is
    // the exact-integer Kaplan–Meier risk table (n at risk, events at t)
    // ([[EventAnalytics.kaplanMeierTable]]).
    Query("kaplan_meier", (s, dir) => {
      val per = events(s, dir).groupBy(col("user_id"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      val gmax = broadcast(per.agg(max(col("t1")).as("gm")))
      val durs = per.crossJoin(gmax)
        .select(expr("(t1 - t0) DIV 3600000000000").as("dur_h"),
          (col("t1") < col("gm") - lit(86400000000000L)).as("obs"))
      EventAnalytics.kaplanMeierTable(durs, "dur_h", "obs")
    },
      Oracle("""WITH per AS (SELECT user_id, epoch_us(MIN(ts)) AS t0,
        |    epoch_us(MAX(ts)) AS t1 FROM events GROUP BY 1),
        |g AS (SELECT MAX(t1) AS gm FROM per),
        |d AS (SELECT (t1 - t0) // 3600000000 AS t,
        |    (t1 < gm - 86400000000) AS obs FROM per CROSS JOIN g),
        |c AS (SELECT t, COUNT(*) AS m,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events
        |  FROM d GROUP BY 1),
        |r AS (SELECT t, n_events,
        |    CAST(SUM(m) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_risk
        |  FROM c)
        |SELECT t, n_risk, n_events FROM r WHERE n_events > 0""".stripMargin)),

    // self-join cardinality estimate from per-key histograms — the exact
    // Σ n² a planner prices before a pairwise operator (theilsen_slope's
    // fan-out bound, in one aggregate pass; counts collapse first).
    Query("join_cardinality", (s, dir) =>
      events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("__n"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("__n") * col("__n")).as("selfjoin_rows"),
          max(col("__n")).as("max_key_rows")),
      Oracle("""WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(n * n) AS BIGINT) AS selfjoin_rows,
        |  MAX(n) AS max_key_rows FROM c""".stripMargin)),

    // quantile normalization: event values re-expressed as the pooled
    // distribution's value at the same within-type percentile — exact
    // rank lookups, integer permille percentiles
    // ([[Transforms.quantileNormalize]]).
    Query("quantile_normalize", (s, dir) =>
      Transforms.quantileNormalize(
        events(s, dir).select(col("event_type"),
          cents(col("value")).as("v"), col("event_id")),
        "event_type", "v", "event_id"),
      Oracle("""WITH v AS (SELECT event_type AS g,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v, event_id AS tie
        |  FROM events),
        |r AS (SELECT g, v, tie,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY v, tie)
        |      AS BIGINT) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n FROM v),
        |p AS (SELECT v AS pooled_v,
        |    CAST(row_number() OVER (ORDER BY v, tie) AS BIGINT) AS prn
        |  FROM v),
        |t AS (SELECT MAX(prn) AS N FROM p),
        |rr AS (SELECT g, v, tie,
        |    CASE WHEN n = 1 THEN CAST(500 AS BIGINT)
        |         ELSE ((rn - 1) * 1000) // (n - 1) END AS pct FROM r)
        |SELECT rr.g AS event_type, rr.tie AS event_id, rr.v AS v,
        |  p.pooled_v AS norm_v
        |FROM rr CROSS JOIN t
        |JOIN p ON p.prn = 1 + (rr.pct * (t.N - 1)) // 1000""".stripMargin)),

    // per-user inter-arrival gap (LAG) in exact integer micros; ties are
    // broken by event_id so the window order is total and the result
    // engine-independent. First event per user (NULL gap) is filtered so
    // the output column stays a clean BIGINT on both sides.
    Query("event_lag", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
      events(s, dir)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("t_us"))
        .withColumn("delta_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("delta_us").isNotNull)
        .select(col("event_id"), col("user_id"), col("delta_us"))
    },
      Oracle("""SELECT event_id, user_id, delta_us FROM (
        |  SELECT event_id, user_id,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS delta_us
        |  FROM events)
        |WHERE delta_us IS NOT NULL""".stripMargin)),

    // first-order Markov next-event model, trained AND evaluated
    // in-engine: per event type the argmax next type from the transition
    // counts (ties to the lexicographically smallest), then the
    // in-sample hit rate of that prediction — the baseline every fancier
    // sequence model must beat.
    Query("markov_hitrate", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("eid"))
      val steps = events(s, dir)
        .select(col("user_id"), col("event_id").as("eid"),
          expr("ts DIV 1000").as("t_us"), col("event_type").as("et"))
        .withColumn("next_et", lead(col("et"), 1).over(w))
        .filter(col("next_et").isNotNull)
        .select(col("et"), col("next_et"))
      val pred = steps.groupBy(col("et"), col("next_et"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(Window.partitionBy("et")
          .orderBy(col("c").desc, col("next_et").asc)))
        .filter(col("rk") === 1)
        .select(col("et"), col("next_et").as("pred_next"))
      steps.join(broadcast(pred), Seq("et"))
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("next_et") === col("pred_next"), 1L).otherwise(0L))
            .as("n_hits"))
        .withColumn("hit_permille",
          expr("1000 * n_hits DIV n_steps"))
    },
      Oracle("""WITH st AS (SELECT event_type AS et,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_et
        |  FROM events),
        |steps AS (SELECT et, next_et FROM st WHERE next_et IS NOT NULL),
        |pred AS (SELECT et, next_et AS pred_next FROM (
        |    SELECT et, next_et, ROW_NUMBER() OVER (PARTITION BY et
        |      ORDER BY COUNT(*) DESC, next_et ASC) AS rk
        |    FROM steps GROUP BY et, next_et) WHERE rk = 1)
        |SELECT COUNT(*) AS n_steps,
        |  CAST(SUM(CASE WHEN s.next_et = p.pred_next THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  CAST(1000 * SUM(CASE WHEN s.next_et = p.pred_next
        |    THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS hit_permille
        |FROM steps s JOIN pred p USING (et)""".stripMargin)),

    // distribution-drift monitoring by POPULATION STABILITY INDEX: order
    // totals 1997 vs 1998 over fixed $5k bins, PSI = Σ (pa − pb)·ln(pa/pb)
    // in PURE integers — proportions as exact ppm floor divisions, the
    // log ratio micro-quantized from exact integer cross-products (the
    // mutual_info discipline), bins missing on either side reported but
    // excluded from the sum (the standard PSI practice).
    Query("psi_drift", (s, dir) => {
      val priced = t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT) DIV 500000")
            .as("bin"))
        .filter(col("yr").isin(1997, 1998))
      val cells = priced.groupBy(col("bin"))
        .agg(sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("na_i"),
          sum(when(col("yr") === 1998, 1L).otherwise(0L)).as("nb_i"))
      val tot = cells.agg(sum(col("na_i")).as("na"),
        sum(col("nb_i")).as("nb"))
      cells.crossJoin(broadcast(tot))
        .withColumn("used", col("na_i") > 0 && col("nb_i") > 0)
        .withColumn("q_micro", when(col("used"), expr(
          "CAST(round(ln((CAST(na_i AS DOUBLE) * CAST(nb AS DOUBLE)) / " +
            "(CAST(nb_i AS DOUBLE) * CAST(na AS DOUBLE))) * 1000000, 0) " +
            "AS BIGINT)")).otherwise(lit(0L)))
        .withColumn("dppm", expr(
          "1000000 * na_i DIV na - 1000000 * nb_i DIV nb"))
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("used"), 1L).otherwise(0L)).as("n_bins_used"),
          sum(when(col("used"), col("dppm") * col("q_micro"))
            .otherwise(0L)).as("__s"))
        .withColumn("psi_micro", expr("__s DIV 1000000")).drop("__s")
    },
      Oracle("""WITH pr AS (SELECT year(o_orderdate) AS yr,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) // 500000 AS bin
        |  FROM orders WHERE year(o_orderdate) IN (1997, 1998)),
        |cells AS (SELECT bin,
        |    CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na_i,
        |    CAST(SUM(CASE WHEN yr = 1998 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb_i
        |  FROM pr GROUP BY 1),
        |tot AS (SELECT CAST(SUM(na_i) AS BIGINT) AS na,
        |    CAST(SUM(nb_i) AS BIGINT) AS nb FROM cells),
        |x AS (SELECT na_i > 0 AND nb_i > 0 AS used,
        |    CASE WHEN na_i > 0 AND nb_i > 0 THEN
        |      CAST(round(ln((CAST(na_i AS DOUBLE) * CAST(nb AS DOUBLE))
        |        / (CAST(nb_i AS DOUBLE) * CAST(na AS DOUBLE)))
        |        * 1000000, 0) AS BIGINT) ELSE 0 END AS q_micro,
        |    1000000 * na_i // na - 1000000 * nb_i // nb AS dppm
        |  FROM cells, tot)
        |SELECT COUNT(*) AS n_bins,
        |  CAST(SUM(CASE WHEN used THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bins_used,
        |  CAST(SUM(CASE WHEN used THEN dppm * q_micro ELSE 0 END)
        |    // 1000000 AS BIGINT) AS psi_micro
        |FROM x""".stripMargin)),

    // association strength over the co-visitation space: lift of item
    // pairs (observed co-sessions vs independence) in exact integer ppm —
    // lift = n_ab·N / (n_a·n_b), floor ppm with marginals from the same
    // distinct (user, session, item) table the pair join uses.
    Query("covisit_lift", (s, dir) => {
      val (sess, pairs) = covisitSessions(s, dir)
      val marg = sess.groupBy(col("item")).agg(count(lit(1)).as("m"))
      // session total N rides the plan as a broadcast 1-row aggregate
      // over the checkpointed session frame — no driver-side count()
      // action (the dsirBucketTotals posture: totals stay in-plan).
      val nDf = sess.select(col("user_id"), col("sid")).distinct()
        .agg(count(lit(1)).as("__n"))
      pairs.withColumnRenamed("n_pair", "n_ab")
        .join(broadcast(marg.select(col("item").as("item_a"),
          col("m").as("m_a"))), Seq("item_a"))
        .join(broadcast(marg.select(col("item").as("item_b"),
          col("m").as("m_b"))), Seq("item_b"))
        .crossJoin(broadcast(nDf))
        .select(col("item_a"), col("item_b"), col("n_ab"),
          expr("1000000 * n_ab * __n DIV (m_a * m_b)")
            .as("lift_ppm"))
    },
      Oracle("""WITH e AS (SELECT user_id, event_id AS eid, epoch_us(ts) AS t_us,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item
        |  FROM events),
        |f AS (SELECT user_id, eid, t_us, item,
        |    CASE WHEN t_us - LAG(t_us) OVER w > 1800000000
        |      OR LAG(t_us) OVER w IS NULL THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, eid)),
        |s AS (SELECT user_id, item,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY t_us, eid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |d AS (SELECT DISTINCT user_id, sid, item FROM s),
        |ns AS (SELECT COUNT(*) AS n FROM
        |  (SELECT DISTINCT user_id, sid FROM d)),
        |m AS (SELECT item, COUNT(*) AS m FROM d GROUP BY 1),
        |p AS (SELECT x.item AS item_a, y.item AS item_b,
        |    COUNT(*) AS n_ab
        |  FROM d x JOIN d y ON x.user_id = y.user_id AND x.sid = y.sid
        |    AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT item_a, item_b, n_ab,
        |  CAST(1000000 * n_ab * ns.n // (ma.m * mb.m) AS BIGINT)
        |    AS lift_ppm
        |FROM p JOIN m ma ON ma.item = p.item_a
        |  JOIN m mb ON mb.item = p.item_b CROSS JOIN ns""".stripMargin)),

    // per-item view→purchase conversion: the item-level funnel — a view
    // converts if the SAME user purchases the SAME item within 7 days
    // (hash semi-join on (user, item) with the time window as residual,
    // so each view counts once no matter how many later purchases).
    // Top-20 items by view volume with conversion permille.
    Query("view_to_buy", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        col("event_type").as("et"), expr("ts DIV 1000").as("t_us"))
      val views = ev.filter(col("et") === "view")
        .select(col("user_id"), col("item"), col("t_us"))
      val buys = ev.filter(col("et") === "purchase")
        .select(col("user_id").as("bu"), col("item").as("bi"),
          col("t_us").as("bt"))
      val conv = views.join(buys,
        col("bu") === col("user_id") && col("bi") === col("item") &&
          col("bt") > col("t_us") &&
          col("bt") <= col("t_us") + 604800000000L, "left_semi")
      views.groupBy(col("item")).agg(count(lit(1)).as("n_views"))
        .join(conv.groupBy(col("item")).agg(count(lit(1)).as("n_conv")),
          Seq("item"), "left")
        .withColumn("n_conv", coalesce(col("n_conv"), lit(0L)))
        .withColumn("conv_permille", expr("1000 * n_conv DIV n_views"))
        .orderBy(col("n_views").desc, col("item").asc)
        .limit(20)
    },
      Oracle("""WITH e AS (SELECT user_id,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item,
        |    event_type AS et, epoch_us(ts) AS t_us FROM events),
        |v AS (SELECT user_id, item, t_us FROM e WHERE et = 'view'),
        |c AS (SELECT item, COUNT(*) AS n_conv FROM v
        |  WHERE EXISTS (SELECT 1 FROM e b
        |    WHERE b.et = 'purchase' AND b.user_id = v.user_id
        |      AND b.item = v.item AND b.t_us > v.t_us
        |      AND b.t_us <= v.t_us + 604800000000)
        |  GROUP BY 1),
        |a AS (SELECT item, COUNT(*) AS n_views FROM v GROUP BY 1)
        |SELECT a.item, a.n_views,
        |  CAST(COALESCE(c.n_conv, 0) AS BIGINT) AS n_conv,
        |  CAST(1000 * COALESCE(c.n_conv, 0) // a.n_views AS BIGINT)
        |    AS conv_permille
        |FROM a LEFT JOIN c USING (item)
        |ORDER BY n_views DESC, item ASC LIMIT 20""".stripMargin)),

    // co-visitation mining (the recsys primitive behind "people also
    // viewed"): item pairs seen within the SAME 30-minute behavioral
    // session, counted across sessions. The session frame and the pair
    // counts come from [[covisitSessions]] — ONE sessionization + ONE
    // bounded in-session pair join shared with covisit_lift.
    Query("covisit_pairs", (s, dir) =>
      covisitSessions(s, dir)._2
        .select(col("item_a"), col("item_b"),
          col("n_pair").as("n_sessions")),
      Oracle("""WITH e AS (SELECT user_id, event_id AS eid, epoch_us(ts) AS t_us,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS item
        |  FROM events),
        |f AS (SELECT user_id, eid, t_us, item,
        |    CASE WHEN t_us - LAG(t_us) OVER w > 1800000000
        |      OR LAG(t_us) OVER w IS NULL THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, eid)),
        |s AS (SELECT user_id, item,
        |    SUM(nw) OVER (PARTITION BY user_id ORDER BY t_us, eid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f),
        |d AS (SELECT DISTINCT user_id, sid, item FROM s)
        |SELECT x.item AS item_a, y.item AS item_b,
        |  COUNT(*) AS n_sessions
        |FROM d x JOIN d y ON x.user_id = y.user_id AND x.sid = y.sid
        |  AND x.item < y.item
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin)),

    // lagged cross-correlation machinery: purchase-vs-view daily spend at
    // lags −3..+3 days, as EXACT integer sufficient statistics per lag
    // (n, Σa, Σb, Σab, Σa², Σb²) — the corr_stats discipline over a
    // lag-exploded day join; the correlation itself derives downstream
    // with no float on either engine.
    Query("xcorr_lags", (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), expr("ts DIV 86400000000000").as("day"))
        .agg(sum(cents(col("value"))).as("v"))
      val a = daily.filter(col("event_type") === "purchase")
        .select(col("day").as("da"), col("v").as("va"))
      val b = daily.filter(col("event_type") === "view")
        .select(col("day").as("db"), col("v").as("vb"))
      a.withColumn("lag", explode(sequence(lit(-3L), lit(3L))))
        .join(b, col("db") === col("da") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("va")).as("sum_a"),
          sum(col("vb")).as("sum_b"),
          sum(col("va") * col("vb")).as("sum_ab"),
          sum(col("va") * col("va")).as("sum_a2"),
          sum(col("vb") * col("vb")).as("sum_b2"))
    },
      Oracle("""WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS v
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT day AS da, v AS va FROM daily
        |  WHERE event_type = 'purchase'),
        |b AS (SELECT day AS db, v AS vb FROM daily
        |  WHERE event_type = 'view'),
        |x AS (SELECT t.lag, va, vb
        |  FROM a CROSS JOIN (SELECT unnest([-3,-2,-1,0,1,2,3]) AS lag) t
        |  JOIN b ON db = da + t.lag)
        |SELECT CAST(lag AS BIGINT) AS lag, COUNT(*) AS n,
        |  CAST(SUM(va) AS BIGINT) AS sum_a,
        |  CAST(SUM(vb) AS BIGINT) AS sum_b,
        |  CAST(SUM(va * vb) AS BIGINT) AS sum_ab,
        |  CAST(SUM(va * va) AS BIGINT) AS sum_a2,
        |  CAST(SUM(vb * vb) AS BIGINT) AS sum_b2
        |FROM x GROUP BY 1""".stripMargin)),

    // log-domain aggregate: exact geometric mean machinery — per return
    // flag, the ln(price) sum in integer micros (each row's log quantized
    // ONCE, the mutual_info discipline) plus the one mirrored closing
    // exp; the multiplicative-average twin of the arithmetic moment
    // family, used for ratio-like metrics where outliers multiply.
    Query("geo_mean", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(ln(CAST(round(l_extendedprice * 100, 0) " +
            "AS BIGINT)) * 1000000, 0) AS BIGINT)").as("ln_micro"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"), sum(col("ln_micro")).as("sum_ln_micro"))
        .withColumn("gm_cents", expr(
          "CAST(round(exp(CAST(sum_ln_micro AS DOUBLE) / " +
            "(CAST(n AS DOUBLE) * 1000000.0)), 0) AS BIGINT)")),
      Oracle("""SELECT l_returnflag AS flag, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(ln(CAST(round(l_extendedprice * 100, 0)
        |    AS BIGINT)) * 1000000, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_ln_micro,
        |  CAST(round(exp(CAST(SUM(CAST(round(ln(CAST(round(
        |      l_extendedprice * 100, 0) AS BIGINT)) * 1000000, 0)
        |      AS BIGINT)) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)), 0) AS BIGINT)
        |    AS gm_cents
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // month-over-month churn: customers ordering in month M with NO
    // order in M+1 — the presence anti-join per month (the inverse of
    // retention_cohorts' diagonal), last month excluded (no M+1 data).
    Query("churn_rate", (s, dir) => {
      val om = t(s, dir, "orders")
        .select(col("o_custkey").as("ck"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("m"))
        .distinct()
      val nxt = om.select(col("ck").as("ck2"), (col("m") - 1).as("m2"))
      val churned = om.join(nxt,
          col("ck") === col("ck2") && col("m") === col("m2"), "left_anti")
      val active = om.groupBy(col("m")).agg(count(lit(1)).as("n_active"))
      val mx = om.agg(max(col("m")).as("mx"))
      active.join(churned.groupBy(col("m")).agg(count(lit(1)).as("n_churned")),
          Seq("m"), "left")
        .crossJoin(broadcast(mx))
        .filter(col("m") < col("mx")).drop("mx")
        .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
        .withColumn("churn_permille",
          expr("1000 * n_churned DIV n_active"))
    },
      Oracle("""WITH om AS (SELECT DISTINCT o_custkey AS ck,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS m
        |  FROM orders),
        |act AS (SELECT m, COUNT(*) AS n_active FROM om GROUP BY 1),
        |ch AS (SELECT a.m, COUNT(*) AS n_churned
        |  FROM om a WHERE NOT EXISTS (SELECT 1 FROM om b
        |    WHERE b.ck = a.ck AND b.m = a.m + 1)
        |  GROUP BY 1),
        |mx AS (SELECT MAX(m) AS mx FROM om)
        |SELECT CAST(act.m AS BIGINT) AS m, act.n_active,
        |  CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned,
        |  CAST(1000 * COALESCE(ch.n_churned, 0) // act.n_active AS BIGINT)
        |    AS churn_permille
        |FROM act LEFT JOIN ch ON act.m = ch.m CROSS JOIN mx
        |WHERE act.m < mx.mx""".stripMargin)),

    // Apdex (the SRE satisfaction index) on inter-event gaps: satisfied
    // ≤ 1h, tolerating ≤ 4h, score = (2·sat + tol) / 2n as exact
    // permille (doubling keeps the half-credit integral, the rank-sum
    // AUC discipline).
    Query("apdex", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("et", "user_id")
        .orderBy(col("t_us"), col("eid"))
      events(s, dir)
        .select(col("event_type").as("et"), col("user_id"),
          col("event_id").as("eid"), expr("ts DIV 1000").as("t_us"))
        .withColumn("d_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("d_us").isNotNull)
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(when(col("d_us") <= 3600000000L, 1L).otherwise(0L))
            .as("n_satisfied"),
          sum(when(col("d_us") > 3600000000L &&
            col("d_us") <= 14400000000L, 1L).otherwise(0L))
            .as("n_tolerating"))
        .withColumn("apdex_permille", expr(
          "1000 * (2 * n_satisfied + n_tolerating) DIV (2 * n_gaps)"))
    },
      Oracle("""WITH e AS (SELECT event_type AS et, user_id, event_id AS eid,
        |    epoch_us(ts) AS t_us FROM events),
        |g AS (SELECT et, t_us - LAG(t_us) OVER (PARTITION BY et, user_id
        |    ORDER BY t_us, eid) AS d_us FROM e),
        |f AS (SELECT et, d_us FROM g WHERE d_us IS NOT NULL)
        |SELECT et, COUNT(*) AS n_gaps,
        |  CAST(SUM(CASE WHEN d_us <= 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_satisfied,
        |  CAST(SUM(CASE WHEN d_us > 3600000000 AND d_us <= 14400000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
        |  CAST(1000 * (2 * SUM(CASE WHEN d_us <= 3600000000
        |      THEN 1 ELSE 0 END)
        |    + SUM(CASE WHEN d_us > 3600000000 AND d_us <= 14400000000
        |      THEN 1 ELSE 0 END)) // (2 * COUNT(*)) AS BIGINT)
        |    AS apdex_permille
        |FROM f GROUP BY 1""".stripMargin)),

    // Lorenz curve points: cumulative revenue share at each customer
    // decile (deciles under the deterministic (revenue, custkey) total
    // order) — the curve behind gini_revenue, as integer permille.
    // Per-customer revenue is DATA-sized, so the global decile order
    // rides [[Transforms.rangedRank]] (the r13 boundedness split caught
    // the old single-task ntile window); the decile is ntile(10)'s exact
    // closed form over (rank, N): first N%10 buckets take ⌈N/10⌉ rows.
    Query("lorenz_points", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rc"))
      val ranked = Transforms.rangedRank(rev,
        Seq(col("rc").asc, col("o_custkey").asc), "r")
      val tot = broadcast(ranked.agg(count(lit(1)).as("N")))
      val dec = ranked.crossJoin(tot)
        .withColumn("q", expr("N DIV 10"))
        .withColumn("rem", expr("N % 10"))
        .withColumn("decile", expr(
          "CASE WHEN r <= rem * (q + 1) THEN (r + q) DIV (q + 1) " +
            "ELSE rem + (r - rem * (q + 1) + q - 1) DIV q END"))
      val byDec = dec.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rc")).as("rev_cents"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec.withColumn("cum_cents", sum(col("rev_cents")).over(w))
        .crossJoin(broadcast(byDec.agg(sum(col("rev_cents")).as("tot"))))
        .select(col("decile").cast("long").as("decile"), col("n_cust"),
          col("rev_cents"),
          expr("1000 * cum_cents DIV tot").as("cum_share_permille"))
    },
      Oracle("""WITH rev AS (SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS rc
        |  FROM orders GROUP BY 1),
        |dec AS (SELECT rc, NTILE(10) OVER (ORDER BY rc, o_custkey)
        |    AS decile FROM rev),
        |bd AS (SELECT decile, COUNT(*) AS n_cust,
        |    CAST(SUM(rc) AS BIGINT) AS rev_cents
        |  FROM dec GROUP BY 1),
        |c AS (SELECT decile, n_cust, rev_cents,
        |    CAST(SUM(rev_cents) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM bd),
        |t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot FROM bd)
        |SELECT CAST(decile AS BIGINT) AS decile, n_cust, rev_cents,
        |  CAST(1000 * cum_cents // tot AS BIGINT) AS cum_share_permille
        |FROM c, t""".stripMargin)),

    // Spearman rank correlation: revenue rank vs order-count rank per
    // customer via the exact Σd² formula — ranks are row_number under a
    // deterministic (value, key) total order (tie policy mirrored in the
    // twin), everything integer until one mirrored closing division.
    // Per-customer rows are DATA-sized, so both global ranks ride
    // [[Transforms.rangedRank]] (the r13 boundedness split caught the
    // old single-task rank windows — the quantileNormalize posture).
    Query("spearman_rho", (s, dir) => {
      val cust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"),
          count(lit(1)).as("cnt"))
      val ranked = Transforms.rangedRank(
        Transforms.rangedRank(cust,
          Seq(col("rev").asc, col("o_custkey").asc), "rx"),
        Seq(col("cnt").asc, col("o_custkey").asc), "ry")
      ranked.select((col("rx") - col("ry")).as("d"))
        .agg(count(lit(1)).as("n"), sum(col("d") * col("d")).as("sum_d2"))
        .withColumn("rho_micro", expr(
          "CAST(round(1000000.0 * (1.0 - 6.0 * CAST(sum_d2 AS DOUBLE) " +
            "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * " +
            "CAST(n AS DOUBLE) - 1.0))), 0) AS BIGINT)"))
    },
      Oracle("""WITH c AS (SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS rev,
        |    COUNT(*) AS cnt
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT
        |    ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rx,
        |    ROW_NUMBER() OVER (ORDER BY cnt, o_custkey) AS ry
        |  FROM c)
        |SELECT COUNT(*) AS n,
        |  CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
        |  CAST(round(1000000.0 * (1.0 - 6.0 *
        |      CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE)
        |      * CAST(COUNT(*) AS DOUBLE) - 1.0))), 0) AS BIGINT)
        |    AS rho_micro
        |FROM rk""".stripMargin)),

    // Simpson's-paradox screen: does the pooled quantity↔price
    // association direction survive stratifying by brand? Sign of the
    // EXACT integer covariance numerator (n·Σxy − Σx·Σy, DECIMAL(38,0))
    // pooled and per stratum; strata disagreeing with the pooled sign
    // are the aggregation-reversal risk the census reports.
    Query("simpson_check", (s, dir) => {
      val rows = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("g"),
          round(col("l_quantity")).cast("long").as("x"),
          cents(col("l_extendedprice")).as("y"))
      val covSign: Column =
        signum(expr("CAST(n AS DECIMAL(38,0)) * sxy - " +
          "CAST(sx AS DECIMAL(38,0)) * sy")).cast("long")
      val strata = rows.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
        .withColumn("sgn", covSign)
      val pooled = rows
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
        .select(covSign.as("pooled_sign"))
      strata.crossJoin(broadcast(pooled))
        .agg(max(col("pooled_sign")).as("pooled_sign"),
          count(lit(1)).as("n_strata"),
          sum(when(col("sgn") =!= col("pooled_sign"), 1L).otherwise(0L))
            .as("n_disagree"))
    },
      Oracle("""WITH r AS (SELECT p_brand AS g,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |st AS (SELECT g, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy FROM r GROUP BY 1),
        |ss AS (SELECT g, CAST(sign(CAST(n AS DECIMAL(38,0)) * sxy
        |    - CAST(sx AS DECIMAL(38,0)) * sy) AS BIGINT) AS sgn FROM st),
        |pl AS (SELECT CAST(sign(CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(x*y)
        |    - CAST(SUM(x) AS DECIMAL(38,0)) * SUM(y)) AS BIGINT)
        |    AS pooled_sign FROM r)
        |SELECT MAX(pl.pooled_sign) AS pooled_sign,
        |  COUNT(*) AS n_strata,
        |  CAST(SUM(CASE WHEN ss.sgn <> pl.pooled_sign THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_disagree
        |FROM ss, pl""".stripMargin)),

    // inter-arrival dispersion (burstiness screen): per event type, the
    // exact sufficient statistics of per-user inter-arrival gaps
    // (n, Σd, Σd² in whole SECONDS — seconds, not micros, so Σd² stays
    // inside BIGINT for both engines and the driver compare; the
    // moment_stats discipline); the coefficient of variation /
    // burstiness index derives downstream, no float on either engine.
    Query("burstiness", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("et", "user_id")
        .orderBy(col("t_us"), col("eid"))
      events(s, dir)
        .select(col("event_type").as("et"), col("user_id"),
          col("event_id").as("eid"), expr("ts DIV 1000").as("t_us"))
        .withColumn("d_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .filter(col("d_us").isNotNull)
        .select(col("et"), expr("d_us DIV 1000000").as("d_s"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("d_s")).as("sum_s"),
          sum(col("d_s") * col("d_s")).as("sum_sq_s"))
    },
      Oracle("""WITH e AS (SELECT event_type AS et, user_id, event_id AS eid,
        |    epoch_us(ts) AS t_us FROM events),
        |g AS (SELECT et, (t_us - LAG(t_us) OVER (PARTITION BY et, user_id
        |    ORDER BY t_us, eid)) // 1000000 AS d_s FROM e)
        |SELECT et, COUNT(*) AS n_gaps,
        |  CAST(SUM(d_s) AS BIGINT) AS sum_s,
        |  CAST(SUM(d_s * d_s) AS BIGINT) AS sum_sq_s
        |FROM g WHERE d_s IS NOT NULL GROUP BY 1""".stripMargin)),

    // local-maxima census (signal-shape screen): per event type, how
    // many points are STRICT peaks (v > both neighbors under the
    // (t, id) total order — plateaus don't count), plus the mean
    // peak-to-peak spacing, exactly: Σ consecutive-peak gaps telescopes
    // to (last peak − first peak), so spacing = span DIV (n−1) with no
    // second window pass.
    Query("peak_census", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("et").orderBy(col("t_us"), col("eid"))
      val pts = events(s, dir)
        .select(col("event_type").as("et"), col("event_id").as("eid"),
          expr("ts DIV 1000").as("t_us"), cents(col("value")).as("v"))
        .withColumn("pk",
          (col("v") > lag(col("v"), 1).over(w)) &&
            (col("v") > lead(col("v"), 1).over(w)))
      pts.groupBy(col("et"))
        .agg(count(lit(1)).as("n_points"),
          sum(when(col("pk"), 1L).otherwise(0L)).as("n_peaks"),
          min(when(col("pk"), col("t_us"))).as("first_peak_us"),
          max(when(col("pk"), col("t_us"))).as("last_peak_us"))
        .withColumn("mean_spacing_us",
          expr("(last_peak_us - first_peak_us) DIV nullif(n_peaks - 1, 0)"))
    },
      Oracle("""WITH p AS (SELECT event_type AS et, event_id AS eid,
        |    epoch_us(ts) AS t_us,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |q AS (SELECT et, t_us,
        |    v > LAG(v) OVER w AND v > LEAD(v) OVER w AS pk
        |  FROM p WINDOW w AS (PARTITION BY et ORDER BY t_us, eid))
        |SELECT et, COUNT(*) AS n_points,
        |  CAST(SUM(CASE WHEN pk THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
        |  MIN(CASE WHEN pk THEN t_us END) AS first_peak_us,
        |  MAX(CASE WHEN pk THEN t_us END) AS last_peak_us,
        |  CAST((MAX(CASE WHEN pk THEN t_us END)
        |      - MIN(CASE WHEN pk THEN t_us END))
        |    // NULLIF(SUM(CASE WHEN pk THEN 1 ELSE 0 END) - 1, 0)
        |    AS BIGINT) AS mean_spacing_us
        |FROM q GROUP BY 1""".stripMargin)),

    // per-label embedding centroid, exactly: element-wise SUM of
    // integer-micro components plus the member count (centroid = sum/n,
    // kept unreduced so the comparison is integer-exact). posexplode →
    // one hash aggregate on (label, pos); at 100 TB the same shape holds
    // because partial aggregation collapses each partition to
    // |labels|×dim rows before the shuffle.
    Query("embed_centroid", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos").cast("long").as("pos"))
        .agg(sum(round(col("v").cast("double") * 1000000).cast("long"))
          .as("sum_micro"), count(lit(1)).as("n")),
      Oracle("""SELECT CAST(label AS BIGINT) AS label, pos - 1 AS pos,
        | CAST(SUM(CAST(round(CAST(v AS DOUBLE)*1000000, 0) AS BIGINT))
        |   AS BIGINT) AS sum_micro,
        | COUNT(*) AS n
        | FROM (SELECT label, unnest(embedding) AS v,
        |   generate_subscripts(embedding, 1) AS pos FROM embeddings)
        | GROUP BY 1, 2""".stripMargin)),

    // split-drift of per-label embedding centroids: cosine between the
    // even-id and odd-id halves' centroids — the training/eval embedding
    // drift check. Cosine is scale-invariant, so it runs on the exact
    // integer SUM vectors (one pass, when-split sums, zero joins); the
    // only float is the one closing division.
    Query("centroid_drift", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          (col("vec_id") % 2).as("sp"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("m", round(col("v").cast("double") * 1000000)
          .cast("long"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(when(col("sp") === 0, col("m")).otherwise(0L)).as("sa"),
          sum(when(col("sp") === 1, col("m")).otherwise(0L)).as("sb"))
        .groupBy(col("label"))
        .agg(sum(expr("CAST(sa AS DECIMAL(38,0)) * sb")).as("dot"),
          sum(expr("CAST(sa AS DECIMAL(38,0)) * sa")).as("na"),
          sum(expr("CAST(sb AS DECIMAL(38,0)) * sb")).as("nb"))
        .select(col("label"), expr(
          "CAST(round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * " +
            "sqrt(CAST(nb AS DOUBLE))) * 1000, 0) AS BIGINT)")
          .as("cos_permille")),
      Oracle("""WITH x AS (SELECT CAST(label AS BIGINT) AS label,
        |    vec_id % 2 AS sp, pos,
        |    CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS m
        |  FROM (SELECT label, vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings)),
        |s AS (SELECT label, pos,
        |    SUM(CASE WHEN sp = 0 THEN m ELSE 0 END) AS sa,
        |    SUM(CASE WHEN sp = 1 THEN m ELSE 0 END) AS sb
        |  FROM x GROUP BY 1, 2),
        |g AS (SELECT label, SUM(sa * sb) AS dot, SUM(sa * sa) AS na,
        |    SUM(sb * sb) AS nb FROM s GROUP BY 1)
        |SELECT label, CAST(round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 1000,
        |    0) AS BIGINT) AS cos_permille
        |FROM g""".stripMargin)),

    Query("sessionize", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.operators.Sessionize.sessionStats(ev, "user_id", "ts",
        "event_id", gapSeconds = 1800)
    },
      Oracle("""WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    lag(CAST(floor(epoch(ts)) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |  FROM events),
        |s AS (
        |  SELECT user_id, value,
        |    CAST(SUM(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM s GROUP BY user_id, session_id""".stripMargin))
  )

  /** Shared chunk table of the `cdc_chunks` / `cdc_dedup` pair: mixed
    * shared/unique 512-byte payload segments synthesized from the mm
    * byte formula, chunked by [[Multimodal.cdcChunks]]. */
  private def cdcChunkTable(s: SparkSession, dir: String): DataFrame = {
    // bytes synthesized per ROW (codegen'd projection after a sequence
    // explode) — the array-column form re-ran the interpreted transform
    // 3× per doc through the Generate guard (see cdcChunkRows scaladoc)
    val rows = Transforms.rebalanceIfNarrow(
      t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
      col("doc_id"))
      .select(col("doc_id").cast("long").as("id"),
        (lit(2048L) + length(encode(col("text"), "UTF-8")) % 2048L)
          .as("__n"))
      .select(col("id"), posexplode(expr("sequence(0L, __n - 1)"))
        .as(Seq("__i", "k")))
      .select(col("id"), col("k"), expr(
        "CASE WHEN (k DIV 512) % 2 = 0 THEN (k * 2654435761L) % 256 " +
          "ELSE (id * 31 + k * 2654435761L) % 256 END").as("b"))
    Multimodal.cdcChunkRows(rows)
      .withColumnRenamed("id", "asset_id")
  }

  /** Shared body of the `cdc_chunks` / `cdc_dedup` oracles — the full
    * chunking replay as one self-contained SELECT (nestable as a CTE). */
  private def cdcChunksSqlBody: String =
    """WITH a AS (SELECT doc_id AS id,
      |    2048 + octet_length(encode(text)) % 2048 AS n
      |  FROM documents WHERE doc_id % 5 = 0),
      |bts AS (SELECT id, k,
      |    CASE WHEN (k // 512) % 2 = 0 THEN (k * 2654435761) % 256
      |         ELSE (id * 31 + k * 2654435761) % 256 END AS b
      |  FROM a, unnest(range(0, n)) AS t(k)),
      |g AS (SELECT id, k, b,
      |    ((b + 1) * 2654435761) % 4294967296 AS g
      |  FROM bts),
      |hh AS (SELECT id, k, b,
      |    g + lag(g, 1) OVER w * 2 + lag(g, 2) OVER w * 4
      |      + lag(g, 3) OVER w * 8 + lag(g, 4) OVER w * 16
      |      + lag(g, 5) OVER w * 32 + lag(g, 6) OVER w * 64
      |      + lag(g, 7) OVER w * 128 AS h
      |  FROM g WINDOW w AS (PARTITION BY id ORDER BY k)),
      |mk AS (SELECT id, k, b,
      |    CASE WHEN k >= 7 AND h % 256 = 0 THEN 1 ELSE 0 END AS bnd
      |  FROM hh),
      |om AS (SELECT id, k, b, COALESCE(MAX(
      |      CASE WHEN bnd = 1 THEN k + 1 END) OVER (
      |      PARTITION BY id ORDER BY k
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM mk),
      |ch AS (SELECT id, off, COUNT(*) AS len,
      |    SUM((b + 7) * ((((((k - off + 13) % 1000000007)
      |      * ((k - off + 13) % 1000000007)) % 1000000007)
      |      * ((k - off + 13) % 1000000007)) % 1000000007))
      |      % 1000000007 AS chunk_sig
      |  FROM om GROUP BY 1, 2)
      |SELECT id AS asset_id,
      |  CAST(row_number() OVER (PARTITION BY id ORDER BY off) AS BIGINT)
      |    AS chunk_idx,
      |  CAST(off AS BIGINT) AS off, CAST(len AS BIGINT) AS len,
      |  CAST(chunk_sig AS BIGINT) AS chunk_sig
      |FROM ch""".stripMargin
}
