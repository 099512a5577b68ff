package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque binary
  * columns with typed metadata, decoded/feature-extracted inside the
  * executors via `mapPartitions` over a typed Dataset (the JVM analogue of
  * `mapInPandas`: batch-shaped, partition-preserving, schema declared
  * up-front).
  *
  * The IMAGE path is real end-to-end: `javax.imageio` (JDK-native) encodes
  * deterministic RGB fixtures to PNG in one executor pass and decodes them
  * back in another — actual binary codec work on the executors, with a
  * closed-form oracle derived from the generator arithmetic (PNG is
  * lossless). The AUDIO path is likewise real for WAV PCM:
  * `javax.sound.sampled` (also JDK-native) container-encodes 16-bit mono
  * clips and decodes them back (mm_audio_decode), lossless → closed-form
  * oracle. Video and compressed-audio features remain arithmetic
  * stand-ins: the JDK ships no codec for those; swap the per-partition
  * lambda for a real library and the plumbing (binary in, fixed-schema
  * features out, partition-preserving) stays identical.
  */
object MultimodalOps {
  import Tables._

  val all: Seq[Q] = Seq(

    // Binary ingest → per-partition REAL PNG decode → typed features.
    // Pipeline: render deterministic RGB images + PNG-encode on the
    // executors (mapPartitions #1: the binary-column producer a crawl
    // would hand us), then ImageIO-decode and extract width/height/
    // channel statistics (mapPartitions #2: the decode stage under
    // test). PNG round-trips TYPE_INT_RGB losslessly, so every decoded
    // pixel equals the generator formula and the oracle rebuilds the
    // exact features from arithmetic alone.
    Q("mm_image_features",
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 20),
        |dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 5 AS INT) AS width,
        |         CAST(8 + doc_id % 7 AS INT) AS height
        |  FROM ids),
        |px AS (
        |  SELECT d.doc_id, d.width, d.height,
        |    (x * 7 + y * 13 + d.doc_id) % 256 AS r,
        |    (x * 3 + y * 5 + 2 * d.doc_id) % 256 AS g,
        |    (x + y + 3 * d.doc_id) % 256 AS b
        |  FROM dims d
        |  CROSS JOIN (SELECT unnest(range(0, 12)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(0, 14)) AS y) ys
        |  WHERE x < d.width AND y < d.height)
        |SELECT doc_id, any_value(width) AS width, any_value(height) AS height,
        |  CAST(sum(r + g + b) AS BIGINT) AS px_sum,
        |  CAST(max(greatest(r, g, b)) AS INT) AS max_channel
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ids = Tables.fan(s,
        documents(s, d).where(col("doc_id") < 20).select(col("doc_id")))
      imageFeaturesKernel(s, ids.as[Long]).orderBy(col("doc_id"))
    },

    // Video-style frame sampling: metadata → sampled frame index expansion
    // (sequence + explode — generation happens distributed, never on the
    // driver), one row per sampled frame with its timestamp.
    Q("mm_frame_sampling",
      """WITH meta AS (
        |  SELECT doc_id, 10 + doc_id % 110 AS duration_s, 30 AS fps
        |  FROM documents WHERE doc_id < 200),
        |frames AS (
        |  SELECT doc_id, duration_s, CAST(unnest(range(0, duration_s * 30, 60)) AS BIGINT) AS frame_idx
        |  FROM meta)
        |SELECT doc_id, frame_idx,
        |  CAST(frame_idx * 1000 / 30 AS BIGINT) AS ts_ms,
        |  CAST(duration_s * 30 AS BIGINT) AS total_frames
        |FROM frames ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      sampledFrames(s, d, 200)
        .select(col("doc_id"), col("frame_idx"), frameTsMs.as("ts_ms"),
          (durationS * 30).cast("long").as("total_frames"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // Paired-dataset curation (the CLIP-style assembly step): join text
    // docs to their image embeddings by id, gate each pair on BOTH
    // modalities' quality signals (caption length, embedding norm inside
    // a sane band), and report per-label pair counts + checksums. At
    // scale this is one equi-join co-partitioned on the id (both sides
    // hash-shuffle once; with id-bucketed storage, zero exchanges) and
    // the gates are scan-level filters on each side BEFORE the join.
    Q("mm_paired_curation",
      """WITH txt AS (
        |  SELECT doc_id, length(text) AS n_chars FROM documents
        |  WHERE length(text) BETWEEN 100 AND 20000),
        |img AS (
        |  SELECT vec_id, label,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT t.doc_id, i.label, t.n_chars
        |  FROM txt t JOIN img i ON t.doc_id = i.vec_id
        |  WHERE i.nrm BETWEEN 0.5 AND 10)
        |SELECT label, count(*) AS n_pairs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM pairs GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      import graft.functions.VectorOps.dot_d
      val txt = documents(s, d)
        .where(length(col("text")).between(100, 20000))
        .select(col("doc_id"), length(col("text")).as("n_chars"))
      val v = expr("transform(embedding, x -> cast(x as double))")
      val img = Tables.fan(s, embeddings(s, d))
        .select(col("vec_id"), col("label"), sqrt(dot_d(v, v)).as("nrm"))
        .where(col("nrm").between(0.5, 10))
      txt.join(img, col("doc_id") === col("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_pairs"),
             sum(col("doc_id")).cast("long").as("id_sum"),
             sum(col("n_chars")).cast("long").as("char_sum"))
        .orderBy(col("label"))
    },

    // Audio/video time alignment — the multimodal join every A/V training
    // pipeline needs: each sampled video frame is matched to the audio
    // window in effect at its timestamp. Runs through the REUSABLE as-of
    // operator (union + one doc_id shuffle + running last — no inequality
    // join) over the two derived streams; because these windows are
    // regular, the oracle can state the alignment in closed form
    // (min(ts//hop, n_windows-1)), so the gate proves the operator equals
    // the arithmetic ideal on 2.6k frame rows. At scale the same call
    // aligns irregular windows (VAD segments, shot boundaries) where no
    // closed form exists.
    Q("mm_av_alignment",
      """WITH meta AS (
        |  SELECT doc_id, 10 + doc_id % 110 AS duration_s,
        |         CAST(16000 * (1 + doc_id % 30) AS BIGINT) AS n_samples
        |  FROM documents WHERE doc_id < 50),
        |aw AS (
        |  SELECT doc_id,
        |    CAST((n_samples - 1024) // 512 + 1 AS BIGINT) AS n_windows
        |  FROM meta),
        |frames AS (
        |  SELECT doc_id, CAST(unnest(range(0, duration_s * 30, 60)) AS BIGINT) AS frame_idx
        |  FROM meta)
        |SELECT f.doc_id, f.frame_idx,
        |  CAST(f.frame_idx * 1000 / 30 AS BIGINT) AS ts_ms,
        |  CAST(least(CAST(f.frame_idx * 1000 / 30 AS BIGINT) // 32, a.n_windows - 1) AS BIGINT) AS audio_widx
        |FROM frames f JOIN aw a USING (doc_id)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      val frames = sampledFrames(s, d, 50)
        .withColumn("ts_ms", frameTsMs)
        .withColumn("tb", col("frame_idx"))
      // 1024-sample windows, 512 hop at 16 kHz → one window start per 32 ms
      val windows = documents(s, d).where(col("doc_id") < 50)
        .select(col("doc_id"),
          (lit(16000) * (lit(1) + col("doc_id") % 30)).cast("long").as("n_samples"))
        .select(col("doc_id"),
          explode(expr("sequence(0, (n_samples - 1024) div 512, 1)")).as("widx"))
        .select(col("doc_id"), col("widx").cast("long").as("widx"),
          (col("widx") * 32).cast("long").as("ts_ms"))
        .withColumn("tb", col("widx"))
      graft.operators.TemporalJoins
        .asof(frames, windows, keys = Seq("doc_id"), tsCol = "ts_ms",
              valueCols = Seq("widx"), tiebreak = "tb")
        .select(col("doc_id"), col("frame_idx"), col("ts_ms"),
                col("asof_widx").as("audio_widx"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // Shot-boundary detection — the video-curation segmentation step: a
    // frame-feature delta above threshold starts a new shot (lag window),
    // shots are gaps-and-islands (running sum of breaks), and the per-video
    // summary reports shot count and the longest shot. The per-frame
    // feature is the decode STUB's deterministic arithmetic (swap in a real
    // frame histogram/embedding; the windowing topology is identical). Two
    // window passes + one aggregate, all partitioned on doc_id — per-video
    // work, embarrassingly parallel across the corpus.
    Q("mm_shot_boundaries",
      """WITH meta AS (
        |  SELECT doc_id, 10 + doc_id % 110 AS duration_s
        |  FROM documents WHERE doc_id < 200),
        |frames AS (
        |  SELECT doc_id, CAST(unnest(range(0, duration_s * 30, 60)) AS BIGINT) AS frame_idx
        |  FROM meta),
        |feat AS (
        |  SELECT doc_id, frame_idx,
        |    (doc_id * 131 + frame_idx * 7919) % 256 AS f
        |  FROM frames),
        |brk AS (
        |  SELECT doc_id, frame_idx, f,
        |    CASE WHEN abs(f - lag(f) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 128
        |         THEN 1 ELSE 0 END AS b
        |  FROM feat),
        |sid AS (
        |  SELECT doc_id, frame_idx,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
        |  FROM brk),
        |shots AS (
        |  SELECT doc_id, shot, count(*) AS shot_len FROM sid GROUP BY doc_id, shot)
        |SELECT doc_id, CAST(sum(shot_len) AS BIGINT) AS n_frames,
        |  count(*) AS n_shots, max(shot_len) AS longest_shot
        |FROM shots GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      shotSummary(shotIds(stubFrameFeatures(s, d)))
    },

    // Keyframe selection — the step after shot segmentation in a video
    // curation pipeline: one REPRESENTATIVE frame per shot (argmax of a
    // per-frame sharpness score, earliest frame on ties), which is what
    // actually gets decoded/embedded downstream — the expansion factor
    // drops from every-frame to one-per-shot before any expensive
    // per-frame work. Same deterministic feature arithmetic as
    // mm_shot_boundaries (integer hashes of (doc, frame) — the codec
    // stays out of the contract); the argmax is a row_number per
    // (doc, shot) over the already-segmented frame relation — one more
    // window pass on the same partition key, no new shuffle key.
    Q("mm_keyframe_select",
      """WITH meta AS (
        |  SELECT doc_id, 10 + doc_id % 110 AS duration_s
        |  FROM documents WHERE doc_id < 200),
        |frames AS (
        |  SELECT doc_id, CAST(unnest(range(0, duration_s * 30, 60)) AS BIGINT) AS frame_idx
        |  FROM meta),
        |feat AS (
        |  SELECT doc_id, frame_idx,
        |    (doc_id * 131 + frame_idx * 7919) % 256 AS f,
        |    (doc_id * 37 + frame_idx * 104729) % 1000 AS sharp
        |  FROM frames),
        |brk AS (
        |  SELECT doc_id, frame_idx, sharp,
        |    CASE WHEN abs(f - lag(f) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 128
        |         THEN 1 ELSE 0 END AS b
        |  FROM feat),
        |sid AS (
        |  SELECT doc_id, frame_idx, sharp,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
        |  FROM brk),
        |rk AS (
        |  SELECT doc_id, shot, frame_idx, sharp,
        |    row_number() OVER (PARTITION BY doc_id, shot
        |                       ORDER BY sharp DESC, frame_idx) AS rn,
        |    count(*) OVER (PARTITION BY doc_id, shot) AS shot_len
        |  FROM sid)
        |SELECT doc_id, CAST(shot AS BIGINT) AS shot, CAST(shot_len AS BIGINT) AS shot_len,
        |  frame_idx AS key_frame, CAST(sharp AS BIGINT) AS key_sharp
        |FROM rk WHERE rn = 1 ORDER BY doc_id, shot""".stripMargin) { (s, d) =>
      keyframes(shotIds(stubFrameFeatures(s, d)))
    },

    // Shot-boundary detection over REAL DECODED FRAMES — the composed
    // form of mm_shot_boundaries: every sampled frame renders → PNG →
    // ImageIO-decodes on the executors ([[decodedFrameFeatures]], the
    // same codec path as mm_image_features under a composite
    // doc·100000+frame id), and the break signal is a real decoded-pixel
    // statistic (px_sum % 256) instead of the arithmetic stand-in. PNG
    // is lossless, so the oracle still derives every pixel from the
    // generator formula — the decode is exercised, the gate stays
    // closed-form. Windowing topology identical to the stand-in.
    Q("mm_shot_boundaries_decoded",
      """WITH meta AS (
        |  SELECT doc_id, 10 + doc_id % 110 AS duration_s
        |  FROM documents WHERE doc_id < 24),
        |frames AS (
        |  SELECT doc_id, CAST(unnest(range(0, duration_s * 30, 60)) AS BIGINT) AS frame_idx
        |  FROM meta),
        |cidt AS (
        |  SELECT doc_id, frame_idx, doc_id * 100000 + frame_idx AS cid FROM frames),
        |px AS (
        |  SELECT c.doc_id, c.frame_idx,
        |    (x * 7 + y * 13 + c.cid) % 256 + (x * 3 + y * 5 + 2 * c.cid) % 256
        |      + (x + y + 3 * c.cid) % 256 AS pxv
        |  FROM cidt c
        |  CROSS JOIN (SELECT unnest(range(0, 12)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(0, 14)) AS y) ys
        |  WHERE x < 8 + c.cid % 5 AND y < 8 + c.cid % 7),
        |feat AS (
        |  SELECT doc_id, frame_idx, CAST(sum(pxv) AS BIGINT) % 256 AS f
        |  FROM px GROUP BY doc_id, frame_idx),
        |brk AS (
        |  SELECT doc_id, frame_idx, f,
        |    CASE WHEN abs(f - lag(f) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 128
        |         THEN 1 ELSE 0 END AS b
        |  FROM feat),
        |sid AS (
        |  SELECT doc_id, frame_idx,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
        |  FROM brk),
        |shots AS (
        |  SELECT doc_id, shot, count(*) AS shot_len FROM sid GROUP BY doc_id, shot)
        |SELECT doc_id, CAST(sum(shot_len) AS BIGINT) AS n_frames,
        |  count(*) AS n_shots, max(shot_len) AS longest_shot
        |FROM shots GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      shotSummary(shotIds(
        decodedFrameFeatures(s, Tables.fan(s, sampledFrames(s, d, 24)))))
    },

    // Keyframe selection over the same real decoded frames: the argmax
    // score is (px_sum·7 + max_channel) % 1000 — BOTH decoded statistics
    // — so the representative frame genuinely depends on the codec
    // round-trip. Same per-(doc, shot) row_number as the stand-in.
    Q("mm_keyframe_select_decoded",
      """WITH meta AS (
        |  SELECT doc_id, 10 + doc_id % 110 AS duration_s
        |  FROM documents WHERE doc_id < 24),
        |frames AS (
        |  SELECT doc_id, CAST(unnest(range(0, duration_s * 30, 60)) AS BIGINT) AS frame_idx
        |  FROM meta),
        |cidt AS (
        |  SELECT doc_id, frame_idx, doc_id * 100000 + frame_idx AS cid FROM frames),
        |px AS (
        |  SELECT c.doc_id, c.frame_idx,
        |    (x * 7 + y * 13 + c.cid) % 256 + (x * 3 + y * 5 + 2 * c.cid) % 256
        |      + (x + y + 3 * c.cid) % 256 AS pxv,
        |    greatest((x * 7 + y * 13 + c.cid) % 256,
        |      (x * 3 + y * 5 + 2 * c.cid) % 256,
        |      (x + y + 3 * c.cid) % 256) AS chan
        |  FROM cidt c
        |  CROSS JOIN (SELECT unnest(range(0, 12)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(0, 14)) AS y) ys
        |  WHERE x < 8 + c.cid % 5 AND y < 8 + c.cid % 7),
        |feat AS (
        |  SELECT doc_id, frame_idx,
        |    CAST(sum(pxv) AS BIGINT) % 256 AS f,
        |    (CAST(sum(pxv) AS BIGINT) * 7 + max(chan)) % 1000 AS sharp
        |  FROM px GROUP BY doc_id, frame_idx),
        |brk AS (
        |  SELECT doc_id, frame_idx, sharp,
        |    CASE WHEN abs(f - lag(f) OVER (PARTITION BY doc_id ORDER BY frame_idx)) > 128
        |         THEN 1 ELSE 0 END AS b
        |  FROM feat),
        |sid AS (
        |  SELECT doc_id, frame_idx, sharp,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
        |  FROM brk),
        |rk AS (
        |  SELECT doc_id, shot, frame_idx, sharp,
        |    row_number() OVER (PARTITION BY doc_id, shot
        |                       ORDER BY sharp DESC, frame_idx) AS rn,
        |    count(*) OVER (PARTITION BY doc_id, shot) AS shot_len
        |  FROM sid)
        |SELECT doc_id, CAST(shot AS BIGINT) AS shot, CAST(shot_len AS BIGINT) AS shot_len,
        |  frame_idx AS key_frame, CAST(sharp AS BIGINT) AS key_sharp
        |FROM rk WHERE rn = 1 ORDER BY doc_id, shot""".stripMargin) { (s, d) =>
      keyframes(shotIds(
        decodedFrameFeatures(s, Tables.fan(s, sampledFrames(s, d, 24)))))
    },

    // A/V alignment driven by the REAL AUDIO DECODE: the audio window
    // count comes from the DECODED WAV's sample count
    // ([[audioFeaturesKernel]] — RIFF header parsed on the executors),
    // not synthetic metadata; frames as-of-join onto 256-sample/128-hop
    // windows (8 ms at the decoded 16 kHz rate). WAV PCM is lossless,
    // so the oracle states the decoded n and the alignment in closed
    // form: audio_widx = least(2·frame_idx, (n-256)//128).
    Q("mm_av_align_decoded",
      """WITH ids AS (
        |  SELECT doc_id, CAST(1000 + (doc_id % 17) * 100 AS BIGINT) AS n
        |  FROM documents WHERE doc_id < 50),
        |frames AS (
        |  SELECT doc_id, CAST(unnest(range(0, 12)) AS BIGINT) AS frame_idx
        |  FROM ids)
        |SELECT f.doc_id, f.frame_idx,
        |  CAST(f.frame_idx * 16 AS BIGINT) AS ts_ms,
        |  a.n AS n_samples,
        |  CAST(least(f.frame_idx * 2, (a.n - 256) // 128) AS BIGINT) AS audio_widx
        |FROM frames f JOIN ids a USING (doc_id)
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      import s.implicits._
      val ids = Tables.fan(s,
        documents(s, d).where(col("doc_id") < 50).select(col("doc_id")))
      val meta = audioFeaturesKernel(s, ids.as[Long])
        .select(col("doc_id"), col("n_samples"))
      val frames = meta
        .select(col("doc_id"), explode(expr("sequence(0, 11)")).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          (col("frame_idx").cast("long") * 16).cast("long").as("ts_ms"))
        .withColumn("tb", col("frame_idx"))
      val windows = meta
        .select(col("doc_id"),
          explode(expr("sequence(0, (n_samples - 256) div 128, 1)")).as("widx"))
        .select(col("doc_id"), col("widx").cast("long").as("widx"),
          (col("widx") * 8).cast("long").as("ts_ms"))
        .withColumn("tb", col("widx"))
      graft.operators.TemporalJoins
        .asof(frames, windows, keys = Seq("doc_id"), tsCol = "ts_ms",
              valueCols = Seq("widx"), tiebreak = "tb")
        .join(meta, Seq("doc_id"))
        .select(col("doc_id"), col("frame_idx"), col("ts_ms"),
                col("n_samples"), col("asof_widx").as("audio_widx"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // Audio-style windowing: n_samples → 1024-sample frames with 512 hop;
    // per-doc window count and coverage (pure integer arithmetic).
    Q("mm_audio_windows",
      """SELECT doc_id,
        |  n_samples,
        |  CAST(CASE WHEN n_samples < 1024 THEN 0
        |       ELSE (n_samples - 1024) // 512 + 1 END AS BIGINT) AS n_windows,
        |  CAST(CASE WHEN n_samples < 1024 THEN 0
        |       ELSE ((n_samples - 1024) // 512) * 512 + 1024 END AS BIGINT) AS covered
        |FROM (SELECT doc_id, CAST(16000 * (1 + doc_id % 30) AS BIGINT) AS n_samples
        |      FROM documents WHERE doc_id < 500) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      documents(s, d).where(col("doc_id") < 500)
        .select(col("doc_id"),
          (lit(16000) * (lit(1) + col("doc_id") % 30)).cast("long").as("n_samples"))
        .withColumn("n_windows",
          when(col("n_samples") < 1024, 0L)
            .otherwise(expr("(n_samples - 1024) div 512 + 1")).cast("long"))
        .withColumn("covered",
          when(col("n_samples") < 1024, 0L)
            .otherwise(expr("((n_samples - 1024) div 512) * 512 + 1024")).cast("long"))
        .orderBy(col("doc_id"))
    },

    // Binary ingest → per-partition REAL WAV decode → typed DSP features,
    // the audio twin of mm_image_features: deterministic 16-bit mono PCM
    // clips are WAV-encoded on the executors via `javax.sound.sampled`
    // (JDK-native, zero new dependencies), then decoded back through
    // `AudioSystem.getAudioInputStream` — actual container+codec work on
    // the executors, with the sample rate read from the DECODED format
    // (asserting the header survives the round trip). WAV PCM is
    // lossless, so every decoded 16-bit sample equals the generator
    // formula and the oracle rebuilds sum/peak/zero-crossings from
    // arithmetic alone.
    Q("mm_audio_decode",
      """WITH ids AS (
        |  SELECT doc_id, 1000 + (doc_id % 17) * 100 AS n
        |  FROM documents WHERE doc_id < 200),
        |sm AS (
        |  SELECT doc_id, u AS idx,
        |    ((u * 31 + doc_id * 17) % 65536) - 32768 AS s, n
        |  FROM ids CROSS JOIN (SELECT unnest(range(0, 2600)) AS u) us
        |  WHERE u < n),
        |lagd AS (
        |  SELECT doc_id, s, n,
        |    lag(s) OVER (PARTITION BY doc_id ORDER BY idx) AS ps
        |  FROM sm)
        |SELECT doc_id,
        |  CAST(16000 AS INT) AS sample_rate,
        |  CAST(any_value(n) AS BIGINT) AS n_samples,
        |  CAST(sum(s) AS BIGINT) AS sample_sum,
        |  CAST(max(abs(s)) AS INT) AS peak,
        |  CAST(sum(CASE WHEN ps IS NOT NULL AND ((s < 0) <> (ps < 0))
        |       THEN 1 ELSE 0 END) AS BIGINT) AS zero_x
        |FROM lagd GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ids = Tables.fan(s,
        documents(s, d).where(col("doc_id") < 200).select(col("doc_id")))
      audioFeaturesKernel(s, ids.as[Long]).orderBy(col("doc_id"))
    },
  )

  /** (doc, frame) grid → per-frame features computed from the REAL PNG
    * decode: each frame renders/encodes/decodes through
    * [[imageFeaturesKernel]] under a composite id (doc·100000 + frame —
    * the id stays the closed-form seed, so the oracle still derives
    * every decoded pixel arithmetically), and the per-frame signals are
    * `f = px_sum % 256` (shot-break delta input) and
    * `sharp = (px_sum·7 + max_channel) % 1000` (keyframe argmax input).
    * Shared by the mm_*_decoded oracle queries. */
  private[graft] def decodedFrameFeatures(s: SparkSession,
      frames: DataFrame): DataFrame = {
    import s.implicits._
    val withCid = frames.select(col("doc_id"), col("frame_idx"),
      (col("doc_id") * 100000L + col("frame_idx")).as("cid"))
    val feats = imageFeaturesKernel(s, withCid.select(col("cid")).as[Long])
      .select(col("doc_id").as("cid"), col("px_sum"), col("max_channel"))
    withCid.join(feats, Seq("cid"))
      .select(col("doc_id"), col("frame_idx"),
        (col("px_sum") % 256).as("f"),
        ((col("px_sum") * 7 + col("max_channel")) % 1000).as("sharp"))
  }

  /** Shot segmentation over a per-frame feature relation — the lag/
    * running-sum gaps-and-islands topology shared by the stand-in and
    * decoded shot queries (two window passes, one partition key). */
  private[graft] def shotIds(feat: DataFrame): DataFrame = {
    val byFrame = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    feat
      .withColumn("b",
        when(abs(col("f") - lag(col("f"), 1).over(byFrame)) > 128, 1).otherwise(0))
      .withColumn("shot", sum(col("b")).over(
        byFrame.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** A stand-in clip's length in seconds, from its `doc_id`. */
  private def durationS = lit(10) + col("doc_id") % 110

  /** A sampled frame's timestamp in ms at 30 fps, from its `frame_idx`. */
  private def frameTsMs = (col("frame_idx") * 1000 / 30).cast("long")

  /** The video stand-in's sampled frame grid: every doc below `docs` is a
    * (10 + doc_id % 110)-second clip at 30 fps, and every 60th frame is
    * kept. The rows are generated on the executors (sequence + explode). */
  private def sampledFrames(s: SparkSession, d: String, docs: Int): DataFrame =
    documents(s, d).where(col("doc_id") < docs)
      .select(col("doc_id"), durationS.as("duration_s"))
      .select(col("doc_id"),
        explode(expr("sequence(0, duration_s * 30 - 1, 60)")).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))

  /** The decode stub's per-frame features over the first 200 docs' frames:
    * integer hashes of (doc, frame) for the break signal `f` and the
    * keyframe score `sharp` (the codec stays out of the contract). */
  private def stubFrameFeatures(s: SparkSession, d: String): DataFrame =
    sampledFrames(s, d, 200)
      .withColumn("f", (col("doc_id") * 131 + col("frame_idx") * 7919) % 256)
      .withColumn("sharp",
        (col("doc_id") * 37 + col("frame_idx") * 104729) % 1000)

  /** Per-video summary of [[shotIds]]: frames, shots, longest shot. */
  private def shotSummary(shots: DataFrame): DataFrame =
    shots.groupBy(col("doc_id"), col("shot"))
      .agg(count(lit(1)).as("shot_len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("shot_len")).cast("bigint").as("n_frames"),
           count(lit(1)).as("n_shots"), max(col("shot_len")).as("longest_shot"))
      .orderBy(col("doc_id"))

  /** One keyframe per shot of [[shotIds]]: the argmax of `sharp`, earliest
    * frame on ties — a row_number per (doc, shot), no new shuffle key. */
  private def keyframes(shots: DataFrame): DataFrame = {
    val byShot = Window.partitionBy(col("doc_id"), col("shot"))
    shots
      .withColumn("rn", row_number().over(
        byShot.orderBy(col("sharp").desc, col("frame_idx"))))
      .withColumn("shot_len", count(lit(1)).over(byShot))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("shot").cast("long").as("shot"),
        col("shot_len").cast("long").as("shot_len"),
        col("frame_idx").as("key_frame"),
        col("sharp").cast("long").as("key_sharp"))
      .orderBy(col("doc_id"), col("shot"))
  }

  /** The PNG encode→decode→feature kernel behind mm_image_features and
    * the decoded-frame queries: id `i` renders a (8 + i%5)×(8 + i%7) RGB
    * image whose pixels are closed-form in (x, y, i), so the oracle
    * derives every decoded value arithmetically. Returns (doc_id, width,
    * height, px_sum, max_channel) per id. Two mapPartitions stages on
    * executors — the one place mapPartitions is justified (no Catalyst
    * expression decodes PNG); nothing returns to the driver. */
  private[graft] def imageFeaturesKernel(s: SparkSession,
      ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    import s.implicits._
    val encoded = ids.mapPartitions(_.map { id =>
      val w = (8 + id % 5).toInt; val h = (8 + id % 7).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((x * 7 + y * 13 + id) % 256).toInt
          val g = ((x * 3 + y * 5 + 2 * id) % 256).toInt
          val b = ((x + y + 3 * id) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      (id, baos.toByteArray)
    }).toDF("doc_id", "payload")
    encoded.as[(Long, Array[Byte])].mapPartitions(_.map {
      case (id, bytes) =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        val w = img.getWidth; val h = img.getHeight
        var pxSum = 0L; var mx = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF
            val b = rgb & 0xFF
            pxSum += r + g + b
            mx = math.max(mx, math.max(r, math.max(g, b)))
            x += 1
          }
          y += 1
        }
        (id, w, h, pxSum, mx)
    }).toDF("doc_id", "width", "height", "px_sum", "max_channel")
  }

  /** The WAV encode→decode→feature kernel behind mm_audio_decode and
    * mm_av_align_decoded: id `i` synthesizes a 1000 + (i%17)·100-sample
    * clip whose samples are closed-form in (sample, i), so the oracle
    * derives every feature arithmetically. Same two-mapPartitions shape
    * as [[imageFeaturesKernel]]:
    * stage 1 synthesizes deterministic 16-bit mono PCM and WAV-encodes it
    * (the binary column a crawl would hand us), stage 2 is the decode
    * under test — `AudioSystem.getAudioInputStream` parses the RIFF
    * header, the sample rate comes from the DECODED format, and the
    * feature loop (sum, peak, zero crossings) runs over the decoded
    * little-endian frames. Nothing returns to the driver. */
  private[graft] def audioFeaturesKernel(s: SparkSession,
      ids: org.apache.spark.sql.Dataset[Long]): DataFrame = {
    import s.implicits._
    val encoded = ids.mapPartitions(_.map { id =>
      val n = 1000 + (id % 17).toInt * 100
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = (((i.toLong * 31 + id * 17) % 65536) - 32768).toInt
        pcm(2 * i) = (v & 0xFF).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        16000f, 16, 1, true, false) // 16 kHz, 16-bit, mono, signed, LE
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      (id, baos.toByteArray)
    }).toDF("doc_id", "payload")
    encoded.as[(Long, Array[Byte])].mapPartitions(_.map { case (id, bytes) =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      val sampleRate = fmt.getSampleRate.toInt
      val data = ais.readAllBytes()
      ais.close()
      val n = data.length / 2
      var sum = 0L; var peak = 0; var zx = 0L; var prev = 0
      var i = 0
      while (i < n) {
        val v = (data(2 * i + 1).toInt << 8) | (data(2 * i) & 0xFF)
        sum += v
        peak = math.max(peak, math.abs(v))
        if (i > 0 && ((v < 0) != (prev < 0))) zx += 1
        prev = v
        i += 1
      }
      (id, sampleRate, n.toLong, sum, peak, zx)
    }).toDF("doc_id", "sample_rate", "n_samples", "sample_sum", "peak", "zero_x")
  }
}
