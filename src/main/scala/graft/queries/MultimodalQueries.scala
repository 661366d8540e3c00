package graft.queries

import org.apache.spark.sql.functions._

import graft.{Materialize, QueryDef, Tables}
import graft.operators.Multimodal

/** Multimodal-column demos: binary payloads with typed metadata. The
  * byte-level plumbing (sizes, frame slicing, digests) is DuckDB-oracle
  * checked; the stubbed decode layer is rows-only + unit-tested. */
object MultimodalQueries {

  val defs: Map[String, QueryDef] = Map(

    // Byte-exact stats over the binary payload column per modality.
    "mm_media_stats" -> QueryDef(
      (s, d) => Multimodal.media(Tables.documents(s, d)).toDF()
        .groupBy("mediaType")
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("total_bytes"),
          max(length(col("payload"))).as("max_bytes"))
        .orderBy("mediaType"),
      Some(
        """SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
          |            ELSE 'video' END AS mediaType,
          |       count(*) AS n,
          |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
          |       CAST(max(octet_length(encode(text))) AS INT) AS max_bytes
          |FROM documents GROUP BY 1 ORDER BY mediaType""".stripMargin),
      doc = "binary media column stats (byte-exact across engines)"),

    // Frame sampling: 128-byte frames, md5 per frame. The operator is
    // byte-based (binary substring); DuckDB cannot slice blobs, so the
    // oracle restricts to ASCII payloads where byte and char windows
    // coincide — same filter on both sides, exact digest compare.
    "mm_frame_sample" -> QueryDef(
      (s, d) => Multimodal.sampleFrames(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")))), 128)
        .orderBy("id", "frame_idx"),
      Some(
        """SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
          |       md5(substr(text, CAST(i*128+1 AS INT), 128)) AS frame_md5,
          |       length(substr(text, CAST(i*128+1 AS INT), 128)) AS frame_len
          |FROM (SELECT doc_id, text FROM documents
          |      WHERE doc_id % 3 = 2 AND octet_length(encode(text)) = length(text)),
          |     UNNEST(range(0, CAST(ceil(length(text)/128.0) AS BIGINT))) AS t(i)
          |ORDER BY id, frame_idx""".stripMargin),
      doc = "video frame sampling: byte-window slicing + per-frame digest"),

    // Consecutive-duplicate frame collapse over the same byte-window
    // frames as mm_frame_sample: lag-window change flags → prefix-sum
    // run ids → one row per run with its length. On this corpus runs
    // are mostly length 1 (text payloads rarely 128-periodic) — the
    // MultimodalSpec synthetic-periodic test is where collapsing is
    // exercised hard; here the oracle pins the run arithmetic exactly.
    "mm_frame_dedup" -> QueryDef(
      (s, d) => Multimodal.dedupFrames(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")))), 128)
        .orderBy("id", "frame_idx"),
      Some(
        """WITH fr AS (
          |  SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
          |         md5(substr(text, CAST(i*128+1 AS INT), 128)) AS frame_md5
          |  FROM (SELECT doc_id, text FROM documents
          |        WHERE doc_id % 3 = 2
          |          AND octet_length(encode(text)) = length(text)),
          |       UNNEST(range(0, CAST(ceil(length(text)/128.0) AS BIGINT))) AS t(i)),
          |seg AS (
          |  SELECT id, frame_idx, frame_md5,
          |    CAST(sum(CASE WHEN prev IS NULL OR prev <> frame_md5
          |                  THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY id ORDER BY frame_idx) AS BIGINT) AS s
          |  FROM (SELECT *, lag(frame_md5)
          |          OVER (PARTITION BY id ORDER BY frame_idx) AS prev
          |        FROM fr))
          |SELECT id, CAST(min(frame_idx) AS INT) AS frame_idx,
          |       min(frame_md5) AS frame_md5,
          |       CAST(count(*) AS BIGINT) AS run_len
          |FROM seg GROUP BY id, s
          |ORDER BY id, frame_idx""".stripMargin),
      doc = "video frame dedup: collapse runs of byte-identical frames " +
        "to (run start, digest, length) — digests through the window, " +
        "never payload bytes"),

    // Perceptual frame near-dup (aHash): every full frame's 60-bit
    // average hash (bit j = strided sample j strictly above the frame
    // mean, exact cross-multiplied integers) plus its count of
    // hamming<=3 neighbors across ALL videos. Spark enumerates
    // candidates through the 4x15-bit banded self-join (pigeonhole:
    // recall 1.0 at dist<=3) and verifies with codegen'd
    // bit_count(xor); the oracle is brute-force all-pairs — the hash
    // match proves both every hash bit and the banding's completeness.
    "mm_phash" -> QueryDef(
      (s, d) => {
        val frames = Tables.documents(s, d)
          .filter(col("doc_id") % 3 === 2 &&
            octet_length(col("text")) === length(col("text")))
          .select(col("doc_id"), posexplode(expr(
            """transform(
              |  sequence(0, cast(ceil(length(text) / 128.0d) as int) - 1),
              |  i -> substring(text, i * 128 + 1, 128))""".stripMargin))
            .as(Seq("frame_idx", "frame")))
          .filter(length(col("frame")) === 128)
          .select((col("doc_id") * 1000 + col("frame_idx")).as("fid"),
            col("frame"))
        val hashed = Materialize("multimodal:mm_phash:hash",
          Multimodal.aHash60(frames, "frame").select("fid", "ahash"))
        val pairs = Multimodal.phashNearDups(hashed, 3)
        val cnt = pairs
          .select(explode(array(col("i"), col("j"))).as("fid"))
          .groupBy("fid").agg(count(lit(1)).as("n"))
        hashed.join(cnt, Seq("fid"), "left")
          .select(col("fid"), col("ahash"),
            coalesce(col("n"), lit(0L)).as("n_near"))
          .orderBy("fid")
      },
      Some(
        """WITH f0 AS (
          |  SELECT doc_id, i, substr(text, CAST(i*128+1 AS INT), 128) AS frame
          |  FROM (SELECT doc_id, text FROM documents
          |        WHERE doc_id % 3 = 2
          |          AND octet_length(encode(text)) = length(text)),
          |       UNNEST(range(0, CAST(ceil(length(text)/128.0) AS BIGINT)))
          |         AS t(i)),
          |fr AS (SELECT doc_id*1000 + i AS fid, frame
          |       FROM f0 WHERE length(frame) = 128),
          |hv AS (SELECT fid,
          |         [CAST(ascii(substr(frame, CAST(j*2+1 AS INT), 1)) AS BIGINT)
          |          for j in range(0, 60)] AS v
          |       FROM fr),
          |hs AS (SELECT fid, CAST(list_sum(
          |         [CASE WHEN v[j+1]*60 > list_sum(v)
          |               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
          |          for j in range(0, 60)]) AS BIGINT) AS ahash
          |       FROM hv),
          |px AS (SELECT a.fid AS i, b.fid AS j
          |       FROM hs a JOIN hs b ON a.fid < b.fid
          |       WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
          |cnt AS (SELECT fid, CAST(count(*) AS BIGINT) AS n_near FROM
          |        (SELECT i AS fid FROM px UNION ALL SELECT j FROM px)
          |        GROUP BY 1)
          |SELECT h.fid, h.ahash,
          |       coalesce(c.n_near, CAST(0 AS BIGINT)) AS n_near
          |FROM hs h LEFT JOIN cnt c USING (fid) ORDER BY h.fid""".stripMargin),
      doc = "perceptual frame hashing: 60-bit aHash per full frame + " +
        "hamming<=3 neighbor counts via the banded self-join (all-pairs " +
        "oracle pins hash bits AND banding recall)"),

    // Stubbed decode + feature extraction — plumbing is real
    // (mapPartitions batch iteration, typed schema), codec deterministic.
    // Oracle-checked: the stub's stripe means are float32 divisions of
    // exact integer byte sums, and DuckDB FLOAT arithmetic is true f32,
    // so the oracle replays them bit-for-bit on ASCII payloads (byte i ==
    // char code i — same restriction as mm_image_dims). Features rendered
    // as a fixed-point string: the driver's pandas checker cannot sort
    // array-typed columns; the f32→f64 promotion is exact and the ×1000
    // double multiply is IEEE-identical across engines.
    "mm_decode_features" -> QueryDef(
      (s, d) => Multimodal.decodeImages(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 2)))
        .toDF()
        .select(col("id"), col("width"), col("height"), col("channels"),
          array_join(transform(col("features"),
            x => round(x.cast("double") * 1000).cast("long")), ",")
            .as("features_milli"))
        .orderBy("id"),
      Some(
        """SELECT doc_id AS id,
          |       CAST(16 + (ascii(substr(text, 1, 1)) & 63) AS INT) AS width,
          |       CAST(16 + (ascii(substr(text, 2, 1)) & 63) AS INT) AS height,
          |       CAST(1 + octet_length(encode(text)) % 3 AS INT) AS channels,
          |       string_agg(CAST(milli AS VARCHAR), ',' ORDER BY s)
          |         AS features_milli
          |FROM (
          |  SELECT doc_id, text, s,
          |    CASE WHEN u > f THEN
          |      CAST(round(CAST(
          |        CAST(list_sum([ascii(substr(text, CAST(k AS INT), 1))
          |                       for k in range(f + 1, u + 1)]) AS FLOAT)
          |        / CAST(u - f AS FLOAT) AS DOUBLE) * 1000) AS BIGINT)
          |    ELSE 0 END AS milli
          |  FROM (
          |    SELECT doc_id, text, s,
          |           (s * length(text)) // 8 AS f,
          |           ((s + 1) * length(text)) // 8 AS u
          |    FROM documents, UNNEST(range(0, 8)) AS t(s)
          |    WHERE doc_id % 3 = 0 AND octet_length(encode(text)) = length(text)
          |      AND length(text) >= 2)
          |)
          |GROUP BY doc_id, text
          |ORDER BY id""".stripMargin),
      doc = "image decode + feature extraction (stub codec, real dataflow; " +
        "f32 stripe means replayed exactly by the ASCII-restricted oracle)"),

    // Decoded image dimensions are exact integer functions of the payload
    // bytes, so they ARE oracle-checkable: restrict to ASCII payloads
    // (byte i == char code i) and recompute w/h/c in DuckDB.
    "mm_image_dims" -> QueryDef(
      (s, d) => Multimodal.decodeImages(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 2)))
        .toDF()
        .select("id", "width", "height", "channels")
        .orderBy("id"),
      Some(
        """SELECT doc_id AS id,
          |       CAST(16 + (ascii(substr(text, 1, 1)) & 63) AS INT) AS width,
          |       CAST(16 + (ascii(substr(text, 2, 1)) & 63) AS INT) AS height,
          |       CAST(1 + octet_length(encode(text)) % 3 AS INT) AS channels
          |FROM documents
          |WHERE doc_id % 3 = 0 AND octet_length(encode(text)) = length(text)
          |  AND length(text) >= 2
          |ORDER BY id""".stripMargin),
      doc = "stub decode dims: exact byte-function of payload, " +
        "ASCII-restricted oracle"),

    // Resize: decode + resample the 8 stripe features to 4 bins (stub
    // resampler indexes stripe i*8/4 = 2i; width becomes the target,
    // height rescales by integer division). Same ASCII/f32 oracle
    // machinery as mm_decode_features.
    "mm_resize" -> QueryDef(
      (s, d) => Multimodal.resizeImages(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) >= 2)), 4)
        .toDF()
        .select(col("id"), col("width"), col("height"), col("channels"),
          array_join(transform(col("features"),
            x => round(x.cast("double") * 1000).cast("long")), ",")
            .as("features_milli"))
        .orderBy("id"),
      Some(
        """SELECT doc_id AS id, CAST(4 AS INT) AS width,
          |       CAST((4 * (16 + (ascii(substr(text, 2, 1)) & 63)))
          |            // (16 + (ascii(substr(text, 1, 1)) & 63)) AS INT)
          |         AS height,
          |       CAST(1 + octet_length(encode(text)) % 3 AS INT) AS channels,
          |       string_agg(CAST(milli AS VARCHAR), ',' ORDER BY s)
          |         AS features_milli
          |FROM (
          |  SELECT doc_id, text, s,
          |    CASE WHEN u > f THEN
          |      CAST(round(CAST(
          |        CAST(list_sum([ascii(substr(text, CAST(k AS INT), 1))
          |                       for k in range(f + 1, u + 1)]) AS FLOAT)
          |        / CAST(u - f AS FLOAT) AS DOUBLE) * 1000) AS BIGINT)
          |    ELSE 0 END AS milli
          |  FROM (
          |    SELECT doc_id, text, s,
          |           (s * length(text)) // 8 AS f,
          |           ((s + 1) * length(text)) // 8 AS u
          |    FROM documents, UNNEST(range(0, 8)) AS t(s)
          |    WHERE doc_id % 3 = 0 AND octet_length(encode(text)) = length(text)
          |      AND length(text) >= 2)
          |  WHERE s % 2 = 0
          |)
          |GROUP BY doc_id, text
          |ORDER BY id""".stripMargin),
      doc = "image resize: stub resampler over decoded stripe features " +
        "(i*len/target indexing), integer height rescale, f32 oracle"),

    // Audio windows: mean + RMS per 256-byte window. Sums of byte values
    // (and their squares) are exact integers, so the double divisions and
    // sqrt are IEEE-identical across engines; ASCII restriction makes
    // byte i == char code i for the DuckDB side (same filter both sides).
    "mm_audio_windows" -> QueryDef(
      (s, d) => Multimodal.audioWindows(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")))), 256)
        .toDF().orderBy("id", "windowIdx"),
      Some(
        """SELECT doc_id AS id, CAST(wi AS INT) AS "windowIdx",
          |       CAST(list_sum(vals) AS DOUBLE) / len(vals) AS mean,
          |       sqrt(CAST(list_sum([v*v for v in vals]) AS DOUBLE) / len(vals)) AS rms
          |FROM (
          |  SELECT doc_id, wi,
          |         [ascii(substr(text, CAST(wi*256 + k AS INT), 1))
          |          for k in range(1, CAST(least(256, length(text) - wi*256) + 1 AS BIGINT))] AS vals
          |  FROM documents,
          |       UNNEST(range(0, CAST(ceil(length(text)/256.0) AS BIGINT))) AS t(wi)
          |  WHERE doc_id % 3 = 1 AND octet_length(encode(text)) = length(text)
          |        AND length(text) > 0
          |) ORDER BY id, "windowIdx"""".stripMargin),
      doc = "audio window features: mean + RMS per 256-byte window"),

    // Scene-change segmentation: mean-luma deltas between consecutive
    // 128-byte frames, cut at >4 byte levels. All cut decisions are
    // cross-multiplied exact integers; the only double is the final
    // milli-rendered scene mean (one IEEE division of exact ints).
    "mm_scene_cuts" -> QueryDef(
      (s, d) => Multimodal.sceneCuts(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) > 0)), 128, 4)
        .orderBy("id", "scene_idx"),
      Some(
        """WITH fr AS (
          |  SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
          |    CAST(list_sum([ascii(substr(text, CAST(i*128 + k AS INT), 1))
          |      for k in range(1, CAST(least(128, length(text) - i*128) + 1 AS BIGINT))]) AS BIGINT) AS ls,
          |    CAST(least(128, length(text) - i*128) AS BIGINT) AS fl
          |  FROM (SELECT doc_id, text FROM documents
          |        WHERE doc_id % 3 = 2 AND octet_length(encode(text)) = length(text)
          |          AND length(text) > 0),
          |       UNNEST(range(0, CAST(ceil(length(text)/128.0) AS BIGINT))) AS t(i)),
          |lg AS (
          |  SELECT *, lag(ls) OVER (PARTITION BY id ORDER BY frame_idx) AS pls,
          |            lag(fl) OVER (PARTITION BY id ORDER BY frame_idx) AS pfl
          |  FROM fr),
          |seg AS (
          |  SELECT id, frame_idx, ls, fl,
          |    CAST(sum(CASE WHEN pls IS NULL THEN 1
          |             WHEN abs(ls*pfl - pls*fl) > 4*fl*pfl THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY id ORDER BY frame_idx) AS BIGINT) AS s
          |  FROM lg)
          |SELECT id, CAST(s - 1 AS INT) AS scene_idx,
          |       CAST(min(frame_idx) AS INT) AS start_frame,
          |       CAST(count(*) AS BIGINT) AS n_frames,
          |       CAST(round(CAST(sum(ls) AS DOUBLE) * 1000 / CAST(sum(fl) AS DOUBLE)) AS BIGINT) AS luma_milli
          |FROM seg GROUP BY id, s ORDER BY id, scene_idx""".stripMargin),
      doc = "video scene-cut segmentation: exact-integer mean-luma " +
        "deltas between consecutive frames, runs collapsed to scenes " +
        "(keyframe selection unit)"),

    // VAD-style energy gate: windows whose mean square clears 97² are
    // active; runs of same-state windows collapse to segments. The
    // activity test is exact integers (no sqrt crosses the hash).
    "mm_audio_vad" -> QueryDef(
      (s, d) => Multimodal.energySegments(
        Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) > 0)), 256, 97)
        .orderBy("id", "seg_idx"),
      Some(
        """WITH win AS (
          |  SELECT doc_id AS id, CAST(wi AS INT) AS window_idx,
          |    CAST(list_sum([v*v for v in vals]) AS BIGINT) AS ss,
          |    CAST(len(vals) AS BIGINT) AS l
          |  FROM (
          |    SELECT doc_id, wi,
          |      [ascii(substr(text, CAST(wi*256 + k AS INT), 1))
          |       for k in range(1, CAST(least(256, length(text) - wi*256) + 1 AS BIGINT))] AS vals
          |    FROM documents,
          |         UNNEST(range(0, CAST(ceil(length(text)/256.0) AS BIGINT))) AS t(wi)
          |    WHERE doc_id % 3 = 1 AND octet_length(encode(text)) = length(text)
          |          AND length(text) > 0)),
          |st AS (
          |  SELECT id, window_idx, ss, l,
          |         CASE WHEN ss >= 9409 * l THEN 1 ELSE 0 END AS act
          |  FROM win),
          |lg AS (SELECT *, lag(act) OVER (PARTITION BY id ORDER BY window_idx) AS pact
          |       FROM st),
          |seg AS (
          |  SELECT id, window_idx, ss, l, act,
          |    CAST(sum(CASE WHEN pact IS NULL OR pact <> act THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY id ORDER BY window_idx) AS BIGINT) AS s
          |  FROM lg)
          |SELECT id, CAST(s - 1 AS INT) AS seg_idx,
          |       CAST(min(window_idx) AS INT) AS start_window,
          |       CAST(count(*) AS BIGINT) AS n_windows,
          |       CAST(min(act) AS INT) AS active,
          |       CAST(round(CAST(sum(ss) AS DOUBLE) * 1000 / CAST(sum(l) AS DOUBLE)) AS BIGINT) AS msq_milli
          |FROM seg GROUP BY id, s ORDER BY id, seg_idx""".stripMargin),
      doc = "audio energy segmentation (VAD shape): exact-integer mean-" +
        "square threshold, same-state runs collapsed to segments"),

    // Keyframe selection — the composition mm_scene_cuts exists for:
    // one representative frame (digest) per scene instead of per fixed
    // stride. Scenes join back to the frame table on (id, frame_idx);
    // both sides derive from the same media scan and shuffle on id, so
    // the join is co-partitioned.
    "mm_keyframes" -> QueryDef(
      (s, d) => {
        val m = Multimodal.media(Tables.documents(s, d)
          .filter(octet_length(col("text")) === length(col("text")) &&
            length(col("text")) > 0))
        // Both sides derive from the same scan `m`, so the join
        // condition is written against explicit string aliases rather
        // than Dataset column refs — dataframe("col") resolution on a
        // shared lineage leans on Spark's ambiguous-self-join
        // disambiguation, which is fragile to refactors and to
        // disabling spark.sql.analyzer.failAmbiguousSelfJoin.
        val scenes = Multimodal.sceneCuts(m, 128, 4).as("sc")
        val frames = Multimodal.sampleFrames(m, 128).as("fr")
        scenes.join(frames,
            col("sc.id") === col("fr.id") &&
              col("sc.start_frame") === col("fr.frame_idx"))
          .select(col("sc.id").as("id"), col("sc.scene_idx"),
            col("fr.frame_idx"), col("fr.frame_md5"), col("sc.n_frames"))
          .orderBy("id", "scene_idx")
      },
      Some(
        """WITH fr AS (
          |  SELECT doc_id AS id, CAST(i AS INT) AS frame_idx,
          |    md5(substr(text, CAST(i*128+1 AS INT), 128)) AS frame_md5,
          |    CAST(list_sum([ascii(substr(text, CAST(i*128 + k AS INT), 1))
          |      for k in range(1, CAST(least(128, length(text) - i*128) + 1 AS BIGINT))]) AS BIGINT) AS ls,
          |    CAST(least(128, length(text) - i*128) AS BIGINT) AS fl
          |  FROM (SELECT doc_id, text FROM documents
          |        WHERE doc_id % 3 = 2 AND octet_length(encode(text)) = length(text)
          |          AND length(text) > 0),
          |       UNNEST(range(0, CAST(ceil(length(text)/128.0) AS BIGINT))) AS t(i)),
          |lg AS (
          |  SELECT *, lag(ls) OVER (PARTITION BY id ORDER BY frame_idx) AS pls,
          |            lag(fl) OVER (PARTITION BY id ORDER BY frame_idx) AS pfl
          |  FROM fr),
          |seg AS (
          |  SELECT id, frame_idx, ls, fl,
          |    CAST(sum(CASE WHEN pls IS NULL THEN 1
          |             WHEN abs(ls*pfl - pls*fl) > 4*fl*pfl THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY id ORDER BY frame_idx) AS BIGINT) AS s
          |  FROM lg),
          |sc AS (
          |  SELECT id, CAST(s - 1 AS INT) AS scene_idx,
          |         CAST(min(frame_idx) AS INT) AS start_frame,
          |         CAST(count(*) AS BIGINT) AS n_frames
          |  FROM seg GROUP BY id, s)
          |SELECT sc.id, sc.scene_idx, f.frame_idx, f.frame_md5, sc.n_frames
          |FROM sc JOIN fr f
          |  ON f.id = sc.id AND f.frame_idx = sc.start_frame
          |ORDER BY sc.id, sc.scene_idx""".stripMargin),
      doc = "keyframe selection: the first frame digest of every scene " +
        "(sceneCuts x sampleFrames co-partitioned join)")
  )
}
