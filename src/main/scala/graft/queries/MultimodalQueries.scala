package graft
package queries

import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.{Multimodal, Similarity}
import graft.queries.OracleSql._

/**
 * Multimodal queries (`multimodal_*`): image decode and resize,
 * perceptual hashes, video frames and byte embeddings.
 */
private[queries] object MultimodalQueries {

  val all: Seq[Query] = Seq(
    /**
     * REAL image pipeline, two codec stages chained: encode
     * deterministic PNGs → decode→nearest-neighbor-resample→re-encode
     * ([[Multimodal.resizeImages]], factor 2) → decode back. The
     * oracle replays the RESIZED truth without any codec: output dims
     * are ⌈w/2⌉×⌈h/2⌉ and output pixel (x, y) is the closed-form source
     * pixel (2x, 2y).
     */
    Query("multimodal_resize_real", (s, dir) => {
      val withBin = t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          Multimodal.encodePng(col("doc_id"),
            (col("doc_id") % 8 + 1).cast("int"),
            (col("doc_id") % 5 + 1).cast("int")).as("payload"))
      Multimodal.decodeImages(Multimodal.resizeImages(withBin, factor = 2))
    },
      // resized truth: dims halve (ceil), pixel (x, y) = source (2x, 2y)
      oracle = ("WITH d AS (SELECT doc_id, (doc_id % 8 + 1 + 1) // 2 AS w2, " +
        "(doc_id % 5 + 1 + 1) // 2 AS h2 " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "px AS (SELECT doc_id, w2, h2, " +
        "(doc_id * 31 + (2 * x) * 7 + (2 * y) * 13) % 256 AS v " +
        "FROM d, UNNEST(generate_series(0, w2 - 1)) AS gx(x), " +
        "UNNEST(generate_series(0, h2 - 1)) AS gy(y)) " +
        "SELECT doc_id, CAST(w2 AS BIGINT) AS width, CAST(h2 AS BIGINT) AS height, " +
        "CAST(w2 * h2 AS BIGINT) AS n_pixels, CAST(sum(v) AS BIGINT) AS px_sum " +
        "FROM px GROUP BY 1, 2, 3, 4")),

    /**
     * Pixel-level perceptual hash on REAL decoded images: encode
     * deterministic 24×16 PNGs, decode, block-mean hash the pixel grid
     * ([[Multimodal.imagePhash]]) — the oracle rebuilds all 64 bits
     * from the closed-form pixels with the identical integer compare
     * (s_b·N > total·n_b), no codec needed.
     */
    Query("multimodal_image_phash", (s, dir) => {
      val withBin = t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          Multimodal.encodePng(col("doc_id"), lit(24), lit(16)).as("payload"))
      Multimodal.imagePhash(withBin)
    },
      // all 64 block-mean bits rebuilt from closed-form pixels; integer
      // compare s_b*N > total*n_b, disjoint bits summed = OR'd
      oracle = ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0), " +
        "px AS (SELECT doc_id, x, y, (doc_id * 31 + x * 7 + y * 13) % 256 AS v " +
        "FROM d, UNNEST(generate_series(0, 23)) AS gx(x), " +
        "UNNEST(generate_series(0, 15)) AS gy(y)), " +
        "b AS (SELECT doc_id, ((y * 8) // 16) * 8 + ((x * 8) // 24) AS blk, " +
        "sum(v) AS s, count(*) AS n FROM px GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, sum(s) AS total, sum(n) AS np FROM b GROUP BY 1) " +
        "SELECT b.doc_id, " + wrapSigned(
          "sum(CASE WHEN s * np > total * n THEN ((1::UBIGINT << blk)::HUGEINT) " +
          "ELSE 0::HUGEINT END)") + " AS ph " +
        "FROM b JOIN t ON b.doc_id = t.doc_id GROUP BY 1")),

    /** Frame sampling over binary payloads: every 4th 64-byte chunk, content-hashed. */
    Query("multimodal_frames", (s, dir) =>
      Multimodal.frameSample(Multimodal.attachBinary(t(s, dir, "documents")),
          chunk = 64, stride = 4)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          md5(col("frame")).as("frame_md5")),
      oracle = ("SELECT doc_id, frame_idx, md5(frame) AS frame_md5 FROM (" +
        "SELECT doc_id, i AS frame_idx, substr(text, CAST(i * 256 + 1 AS BIGINT), 64) AS frame " +
        "FROM documents, UNNEST(generate_series(0, CAST(floor(length(text) / 256.0) AS BIGINT))) " +
        "t(i)) WHERE length(frame) > 0")),

    Query("multimodal_meta", (s, dir) =>
      Multimodal.attachBinary(t(s, dir, "documents"))
        .select(col("doc_id"), col("meta.mime").as("mime"), col("meta.n_bytes").as("n_bytes")),
      oracle = ("SELECT doc_id, 'text/plain' AS mime, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents")),

    Query("multimodal_decode", (s, dir) =>
      Multimodal.decodeStub(Multimodal.attachBinary(t(s, dir, "documents"))),
      oracle = ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, " +
        "CAST(list_sum([ord(substr(text, i, 1)) for i in generate_series(1, length(text))]) " +
        "AS BIGINT) AS sum_bytes, " +
        "CAST(list_max([ord(substr(text, i, 1)) for i in generate_series(1, length(text))]) " +
        "AS BIGINT) AS max_byte, " +
        "CAST(" + crcSql("substr(text, 1, 16)") + " & 16383 AS BIGINT) AS head_crc_slot " +
        "FROM documents")),

    /**
     * REAL codec round trip (no stub): deterministic grayscale PNGs are
     * encoded with javax.imageio (actual compressed PNG bytes), then
     * decoded by the shipped [[Multimodal.ImageIoDecoder]] — decoded
     * geometry and pixel sum must equal the closed-form truth the
     * oracle computes from (doc_id, w, h) alone, so the oracle needs no
     * codec while the engine exercises a true compress→decompress pass.
     */
    Query("multimodal_imageio", (s, dir) => {
      val withBin = t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          Multimodal.encodePng(col("doc_id"),
            (col("doc_id") % 8 + 1).cast("int"),
            (col("doc_id") % 5 + 1).cast("int")).as("payload"))
      Multimodal.decodeImages(withBin)
    },
      // truth columns are closed-form over (doc_id, w, h): the engine
      // decodes real PNG bytes, the oracle never needs a codec
      oracle = ("WITH d AS (SELECT doc_id, doc_id % 8 + 1 AS w, doc_id % 5 + 1 AS h " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "px AS (SELECT doc_id, w, h, (doc_id * 31 + x * 7 + y * 13) % 256 AS v " +
        "FROM d, UNNEST(generate_series(0, w - 1)) AS gx(x), " +
        "UNNEST(generate_series(0, h - 1)) AS gy(y)) " +
        "SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
        "CAST(w * h AS BIGINT) AS n_pixels, CAST(sum(v) AS BIGINT) AS px_sum " +
        "FROM px GROUP BY 1, 2, 3, 4")),

    /**
     * Per-payload 64-bit perceptual hash (block-mean phash, every bit
     * oracle-replayed) — the fixture has no byte-level near-dups
     * (min pairwise hamming 9), so the census is the oracled surface;
     * the pair path (band blocking + hamming verify, exact recall ≤ 3
     * by pigeonhole) is pinned on planted dups in OperatorsSpec.
     */
    Query("multimodal_phash", (s, dir) =>
      Multimodal.attachBinary(t(s, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.VectorFunctions.phash64(col("payload")).as("ph")),
      // phash replayed exactly: 64 block sums over the byte list, bit i by
      // the same cross-multiplied mean compare, OR-folded into a UBIGINT
      oracle = ("WITH b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n, " +
        "[ord(substr(text, p, 1)) for p in generate_series(1, length(text))] AS bs " +
        "FROM documents), " +
        "t AS (SELECT doc_id, n, bs, coalesce(list_sum(bs), 0) AS total FROM b), " +
        "ph AS (SELECT doc_id, " + wrapSigned(
          "list_reduce([CASE WHEN coalesce(list_sum(bs[((i*n)//64)+1:((i+1)*n)//64]), 0) * n " +
          "> total * (((i+1)*n)//64 - (i*n)//64) THEN (1::UBIGINT << i) " +
          "ELSE 0::UBIGINT END for i in generate_series(0, 63)], (x, y) -> x | y)") +
        " AS ph FROM t) " +
        "SELECT doc_id, ph FROM ph")),

    /** Resize (every-2nd-byte downsample) with updated metadata, content-hashed. */
    Query("multimodal_resize", (s, dir) =>
      Multimodal.resizeStub(Multimodal.attachBinary(t(s, dir, "documents")), factor = 2)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"), md5(col("payload")).as("payload_md5")),
      oracle =
        ("SELECT doc_id, CAST(length(ds) AS BIGINT) AS n_bytes, md5(ds) AS payload_md5 FROM (" +
          "SELECT doc_id, array_to_string([substr(text, p, 1) " +
          "for p in generate_series(1, length(text)) if (p - 1) % 2 = 0], '') AS ds " +
          "FROM documents)")),

    /** Full multimodal→vector→ANN chain: byte_embed features, brute-force top-3. */
    Query("multimodal_embed", (s, dir) => {
      val embedded = Multimodal.embedStub(Multimodal.attachBinary(t(s, dir, "documents")))
      Similarity.bruteForceTopK(embedded, embedded.filter(col("doc_id") < 10), k = 3,
          vecCol = "embedding", idCol = "doc_id")
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = ("WITH e AS (SELECT doc_id, [(coalesce(list_sum(" +
        "[ord(substr(text, p, 1)) for p in generate_series(1, length(text)) " +
        "if (p - 1) % 8 = j]), 0))::DOUBLE for j in generate_series(0, 7)] AS v " +
        "FROM documents) " +
        "SELECT query_id, rank, neighbor_id, cos FROM (" +
        "SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, " +
        "round(list_cosine_similarity(q.v, c.v), 4) AS cos, " +
        "CAST(row_number() OVER (PARTITION BY q.doc_id " +
        "ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.doc_id) AS BIGINT) AS rank " +
        "FROM e q JOIN e c ON q.doc_id != c.doc_id WHERE q.doc_id < 10) WHERE rank <= 3")),
  )
}
