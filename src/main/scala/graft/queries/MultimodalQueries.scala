package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.multimodal.Multimodal

import Fixtures._
import Oracle._

/** Multimodal decode, resize, feature extraction and frame sampling, over
  * the stub codec and the real JDK codecs. */
object MultimodalQueries {
  val defs: Seq[QueryDef] = Seq(
    // ---- multimodal decode (binary -> typed metadata; stub codec) ----
    QueryDef("multimodal_decode", (s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        lit("image").as("media_type"),
        col("text").cast("binary").as("content"))
      Multimodal.decode(media)
        .select(col("doc_id").cast("long").as("doc_id"), col("width"),
          col("height"), col("channels"), col("codec"))
        .orderBy("doc_id")
    },
    // FakeCodec image metadata is pure sha256 arithmetic: u(i) = the
    // big-endian uint16 at hash byte i -> width = 64 + u(0) % 4032 etc.
    Sql(
      """SELECT doc_id,
        |  CAST(64 + ('0x' || substr(sha256(text), 1, 4))::UINTEGER % 4032
        |    AS INT) AS width,
        |  CAST(64 + ('0x' || substr(sha256(text), 5, 4))::UINTEGER % 2096
        |    AS INT) AS height,
        |  3 AS channels, 'fake/png' AS codec
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- multimodal feature extraction (binary -> embedding) ----
    QueryDef("multimodal_features", (s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        lit("image").as("media_type"),
        col("text").cast("binary").as("content"))
      val feats = Multimodal.extractFeatures(media, dim = 32)
      // project to a scalar surface: cosine self-check + dims
      feats.select(col("doc_id").cast("long").as("doc_id"),
          size(col("feature")).as("dim"),
          round(VectorFunctions.norm(col("feature")), 4).as("norm"))
        .orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, 32 AS dim, 1.0 AS norm
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- REAL-codec multimodal round-trips (JdkCodec): deterministic
    //      gray PNGs staged in-plan, pushed through a genuine ImageIO
    //      encode → decode; the oracle recomputes every output from the
    //      pixel-generator arithmetic, so a lossy or shifted codec path
    //      hash-fails. Dims vary per doc to exercise non-square sizes.
    QueryDef("multimodal_real_decode", (s, dir) => {
      val staged = Multimodal.SyntheticImages.stage(
        t(s, dir, "documents").select("doc_id").repartition(32), "doc_id",
        w = id => 16 + (id % 17).toInt, h = id => 16 + ((id * 7) % 23).toInt)
      Multimodal.decode(staged, Multimodal.JdkCodec)
        .select(col("doc_id").cast("long").as("doc_id"), col("width"),
          col("height"), col("channels"), col("codec"))
        .orderBy("doc_id")
    },
    // REAL-codec round-trips: the oracle recomputes each output from
    // the synthetic pixel generator gray(x,y,doc) = (31x+17y+13·doc)%256
    // — the Spark side must reproduce it through an actual PNG
    // encode + ImageIO decode, so any codec lossiness hash-fails.
    Sql(
      """SELECT doc_id,
        |  CAST(16 + doc_id % 17 AS INT) AS width,
        |  CAST(16 + (doc_id * 7) % 23 AS INT) AS height,
        |  1 AS channels, 'png' AS codec
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- real nearest-neighbor resize: 8×8 downsample, re-encoded,
    //      re-decoded, summed — out(x,y) = src(x·sw/8, y·sh/8) ----
    QueryDef("multimodal_real_resize", (s, dir) => {
      val staged = Multimodal.SyntheticImages.stage(
        t(s, dir, "documents").select("doc_id").repartition(32), "doc_id",
        w = id => 16 + (id % 17).toInt, h = id => 16 + ((id * 7) % 23).toInt)
      val resized = Multimodal.resize(staged, 8, 8, Multimodal.JdkCodec)
      val sumUdf = udf((b: Array[Byte]) => Multimodal.SyntheticImages.graySum(b))
      resized.select(col("doc_id").cast("long").as("doc_id"), col("width"),
          col("height"), sumUdf(col("content")).as("gray_sum"))
        .orderBy("doc_id")
    },
    // nearest-neighbor: out(x,y) = src(x·sw/8, y·sh/8), integer division
    Sql(
      """WITH dims AS (
        |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 7) % 23 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |    (x.x * d.w) // 8 AS sx, (y.y * d.h) // 8 AS sy
        |  FROM dims d, generate_series(0, 7) x(x), generate_series(0, 7) y(y))
        |SELECT doc_id, 8 AS width, 8 AS height,
        |  sum((sx * 31 + sy * 17 + doc_id * 13) % 256)::BIGINT AS gray_sum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- real luminance-pooled features: 32×32 gray → 4×4 grid of
    //      8×8-cell means / 256 (power-of-two scale ⇒ Float-exact) ----
    QueryDef("multimodal_real_features", (s, dir) => {
      val staged = Multimodal.SyntheticImages.stage(
        t(s, dir, "documents").select("doc_id").repartition(32), "doc_id", w = _ => 32, h = _ => 32)
      Multimodal.extractFeatures(staged, dim = 16, Multimodal.JdkCodec)
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(col("feature")))
        .select(col("doc_id"), col("pos").as("cell"),
          round(col("col").cast("double"), 6).as("feat"))
        .orderBy("doc_id", "cell")
    },
    // 4×4 grid of 8×8-cell luminance means / 256 over the 32×32 image
    Sql(
      """WITH cells AS (
        |  SELECT d.doc_id, c.c AS cell,
        |    (c.c % 4) * 8 AS x0, (c.c // 4) * 8 AS y0
        |  FROM documents d, generate_series(0, 15) c(c)),
        |px AS (
        |  SELECT doc_id, cell,
        |    ((x0 + dx.dx) * 31 + (y0 + dy.dy) * 17 + doc_id * 13) % 256 AS gray
        |  FROM cells, generate_series(0, 7) dx(dx), generate_series(0, 7) dy(dy))
        |SELECT doc_id, CAST(cell AS INT) AS cell,
        |  round(sum(gray) / (64.0 * 256.0), 6) AS feat
        |FROM px GROUP BY doc_id, cell ORDER BY doc_id, cell""".stripMargin)),

    // ---- multimodal resize (stub codec arithmetic, oracle-checked) ----
    QueryDef("multimodal_resize", (s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        lit("image").as("media_type"),
        col("text").cast("binary").as("content"))
      Multimodal.resize(Multimodal.decode(media), 224, 224)
        .select(col("doc_id").cast("long").as("doc_id"), col("width"),
          col("height"), lower(hex(col("content"))).as("content_digest"))
        .orderBy("doc_id")
    },
    // resize keeps requested dims; content becomes
    // sha256(bytes || 'resize:WxH') (FakeCodec digest arithmetic)
    Sql(
      """SELECT doc_id, 224 AS width, 224 AS height,
        |  sha256(text || 'resize:224x224') AS content_digest
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- multimodal video frame sampling (stub arithmetic) ----
    QueryDef("multimodal_frames", (s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        lit("video").as("media_type"),
        col("text").cast("binary").as("content"))
      Multimodal.sampleFrames(Multimodal.decode(media),
          everyMs = 20000L, maxFrames = 5)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("frame_index"), col("timestamp_ms"), col("frame_hash"))
        .orderBy("doc_id", "frame_index")
    },
    // video duration = 1000 + u(4) % 600000 (u = big-endian uint16 at
    // sha byte 4); n frames = min(5, duration div 20000); frame hash =
    // first 16 hex of sha256(bytes || 'frame:' || ts)
    Sql(
      """WITH v AS (
        |  SELECT doc_id, text,
        |    1000 + ('0x' || substr(sha256(text), 9, 4))::UINTEGER % 600000
        |      AS duration
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |    least(5, duration // 20000) AS nf
        |  FROM v WHERE duration // 20000 > 0),
        |f AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, CAST(nf AS INT) - 1)) AS frame_index
        |  FROM n)
        |SELECT doc_id, CAST(frame_index AS INT) AS frame_index,
        |  CAST(frame_index * 20000 AS BIGINT) AS timestamp_ms,
        |  substr(sha256(text || 'frame:' ||
        |    CAST(frame_index * 20000 AS VARCHAR)), 1, 16) AS frame_hash
        |FROM f ORDER BY doc_id, frame_index""".stripMargin)),

    // ---- REAL frame sampling: animated GIFs (the one multi-frame
    //      container the bare JDK decodes) written frame-by-frame with
    //      40ms delays, re-read through ImageIO's multi-frame reader,
    //      ticks placed by the STORED per-frame delays, frame hash =
    //      exact pixel checksum the oracle replays arithmetically ----
    QueryDef("multimodal_real_frames", (s, dir) => {
      // the encoded GIFs are a fixture (memoized per sf dir, like the
      // staged mailbox trees); the measured work is the multi-frame
      // DECODE + sampling, which runs fresh per call
      val staged = StandingArtifacts(s, dir, "multimodal_real_frames/gifs")(
        Multimodal.SyntheticImages.stageGif(
          // repartition the ID INPUT, not the staged output: the
          // parquet scan arrives in 1-2 partitions at this size, and a
          // repartition placed after stageGif redistributes only the
          // already-encoded bytes — the ImageIO ENCODE itself would
          // still run serialized inside the scan partition (measured:
          // an 11.8 s single-task stage vs ~0.6 s across 32)
          t(s, dir, "documents").select("doc_id").repartition(32),
          "doc_id",
          w = id => (8 + id % 5).toInt, h = id => (6 + (id * 3) % 7).toInt,
          nFrames = id => (2 + id % 4).toInt, delayMs = 40)
          .localCheckpoint())
      Multimodal.sampleFrames(staged, everyMs = 50L, maxFrames = 4,
          Multimodal.JdkCodec)
        .select(col("doc_id").cast("long").as("doc_id"), col("frame_index"),
          col("timestamp_ms"), col("frame_hash"))
        .orderBy("doc_id", "frame_index")
    },
    // real GIF timeline: nf frames of 40ms each; sample ticks every
    // 50ms while the tick lands inside the clip (≤ 4 ticks); the tick
    // covers frame floor(ts/40); hash = sum over the frame's pixels of
    // gray(x,y, doc_id + 1000·frame) — the stored-palette round-trip
    // must be bit-exact for this to hash-match
    Sql(
      """WITH cfg AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 5 AS BIGINT) AS w,
        |    CAST(6 + (doc_id * 3) % 7 AS BIGINT) AS h,
        |    CAST(2 + doc_id % 4 AS BIGINT) AS nf
        |  FROM documents),
        |ticks AS (
        |  SELECT doc_id, w, h, unnest(range((nf * 40) // 50)) AS k
        |  FROM cfg),
        |tf AS (
        |  SELECT doc_id, w, h, k, (k * 50) // 40 AS f
        |  FROM ticks WHERE k < 4),
        |xs AS (
        |  SELECT doc_id, k, f, h, unnest(range(w)) AS x FROM tf),
        |pix AS (
        |  SELECT doc_id, k, f, x, unnest(range(h)) AS y FROM xs)
        |SELECT doc_id, CAST(k AS INT) AS frame_index,
        |  CAST(k * 50 AS BIGINT) AS timestamp_ms,
        |  CAST(sum((x * 31 + y * 17 + (doc_id + 1000 * f) * 13) % 256)
        |    AS VARCHAR) AS frame_hash
        |FROM pix GROUP BY doc_id, k
        |ORDER BY doc_id, frame_index""".stripMargin))
  )
}
