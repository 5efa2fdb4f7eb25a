package graft
package entries

import graft.GraftSession.scratch
import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Media entries over the stub media corpus: features, resize, frames, near-dups and takedowns. */
object Media {
  val entries: Seq[Entry] = Seq(
    // Multimodal: binary payload → batched feature extraction (stub decode,
    // real plumbing: schema, mapPartitions batch shape, payload pruning).
    // The feature vector is emitted as a CSV string: the driver's hasher
    // can't sort/hash a list column, and the stub features are exact
    // integer counts, so the long-cast CSV is full-fidelity and hashable.
    Entry("m1_media_features", (s, d) =>
      Multimodal.features(s, Multimodal.mediaFromDocuments(docs(s, d)))
        .toDF()
        .select(col("media_id"), col("kind"), col("dim"),
          array_join(transform(col("features"),
            x => x.cast("long").cast("string")), ",").as("features_csv"))
        .orderBy("media_id"),
      "SELECT doc_id AS media_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "16 AS dim, array_to_string(list_transform(range(0, 16), i -> " +
        "(length(md5(text)) - length(replace(md5(text), substr('0123456789abcdef', i+1, 1), '')))::BIGINT), ',') AS features_csv " +
        "FROM documents ORDER BY media_id"),

    // Multimodal: resize plumbing — payload-in/payload-out with metadata
    // passthrough (byte-level stub semantics are spec-pinned; the oracle
    // checks the shape/metadata contract)
    Entry("m2_media_resize", (s, d) =>
      Multimodal.resize(s, Multimodal.mediaFromDocuments(docs(s, d)), 8)
        .select(col("media_id"), col("n_bytes"), col("orig_width"), col("orig_height"))
        .orderBy("media_id"),
      "SELECT doc_id AS media_id, 8 AS n_bytes, (n_chars % 640)::INT AS orig_width, " +
        "(n_chars % 480)::INT AS orig_height FROM documents ORDER BY media_id"),

    // Multimodal: frame/sample stride subsampling plumbing
    Entry("m3_frame_sample", (s, d) =>
      Multimodal.sampleFrames(s, Multimodal.mediaFromDocuments(docs(s, d)), 3)
        .orderBy("media_id"),
      // md5 payloads are 16 bytes; stride 3 keeps offsets 0,3,6,9,12,15
      "SELECT doc_id AS media_id, 6 AS n_sampled FROM documents ORDER BY media_id"),

    // Multimodal × dedup composition: perceptual-hash near-dup pairs over
    // the planted media corpus (Hamming ≤ 2 on the 29-bit gradient pHash,
    // pigeonhole-banded — never all-pairs) collapsed to canonical clusters
    // — v5's embedding-dedup shape with pHash in place of embeddings, i.e.
    // the media dedup pipeline when no embedding model is in the loop
    Entry("m4_media_neardup", (s, d) => {
      val m = plantedMedia(s, d)
      Dedup.dupClusters(m.select(col("media_id").as("doc_id")),
          Multimodal.mediaNearDupPairs(m).select(col("a_id"), col("b_id")))
        .select(col("doc_id").as("media_id"), col("cluster_rep"), col("is_canonical"))
        .orderBy("media_id")
    },
      // m4: the identical pHash recomputed in SQL over the planted media
      // corpus, all-pairs Hamming ≤ 2 (fine at oracle scale — the ENGINE
      // side is the banded one), then the v5 recursive CC closure
      mediaClusterSql + " " +
        "SELECT c.media_id, coalesce(l.rep, c.media_id) AS cluster_rep, " +
        "coalesce(l.rep, c.media_id) = c.media_id AS is_canonical " +
        "FROM corp c LEFT JOIN lbl l USING (media_id) ORDER BY c.media_id"),

    // M8 media dedup ROI: d18's budget report on the VISUAL near-dup
    // path — cluster-size histogram of the m4 pHash closure with the
    // payload bytes a keep-one-per-cluster purge reclaims; ids + octet
    // lengths only, payloads never shuffle
    Entry("m8_media_roi", (s, d) => {
      val m = plantedMedia(s, d)
      val sizes = m.select(col("media_id").as("doc_id"),
        length(col("payload")).cast("long").as("n_chars"))
      Dedup.dedupRoi(sizes,
        Dedup.dupClusters(sizes.select("doc_id"),
          Multimodal.mediaNearDupPairs(m).select(col("a_id"), col("b_id")))
          .select("doc_id", "cluster_rep"))
    },
      // m8: the m4 closure re-derived, singletons included, every
      // payload exactly 16 octets (md5-derived) — the d18 ROI tail
      mediaClusterSql + ", " +
        "mem AS (SELECT c.media_id AS doc_id, coalesce(l.rep, c.media_id) AS cluster_rep " +
        "FROM corp c LEFT JOIN lbl l USING (media_id)), " +
        "per AS (SELECT cluster_rep, count(*)::BIGINT AS size, " +
        "sum(CASE WHEN doc_id <> cluster_rep THEN 16 ELSE 0 END)::BIGINT AS extra " +
        "FROM mem GROUP BY 1) " +
        "SELECT size, count(*)::BIGINT AS n_clusters, sum(extra)::BIGINT AS chars_saved " +
        "FROM per GROUP BY size ORDER BY size"),

    // M7 media integrity gate: the structural pre-decode screen with
    // PLANTED corruption (e13 style) — negative width every 13th id,
    // NULL height every 17th (null counts corrupt), unroutable kind
    // every 19th; per-check counts independent, good + quarantined =
    // rows, payload bytes never leave the scan
    Entry("m7_media_integrity", (s, d) => {
      val media = Multimodal.mediaFromDocuments(docs(s, d))
        .withColumn("width",
          when(col("media_id") % 13 === 0, lit(-1)).otherwise(col("width")))
        .withColumn("height",
          when(col("media_id") % 17 === 0, lit(null).cast("int"))
            .otherwise(col("height")))
        .withColumn("kind",
          when(col("media_id") % 19 === 0, "blob").otherwise(col("kind")))
      Multimodal.integrityGate(media)
    },
      // m7: planted corruption replayed over the same derivation — null
      // height is NOT ok (coalesce false), md5 payloads are always 16
      // bytes so the payload check never fires here (pinned 0)
      "WITH m AS (SELECT doc_id, " +
        "CASE WHEN doc_id % 13 = 0 THEN -1 ELSE (n_chars % 640)::INT END AS width, " +
        "CASE WHEN doc_id % 17 = 0 THEN NULL ELSE (n_chars % 480)::INT END AS height, " +
        "CASE WHEN doc_id % 19 = 0 THEN 'blob' WHEN doc_id % 3 = 0 THEN 'image' " +
        "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind FROM documents), " +
        "f AS (SELECT coalesce(width > 0 AND height > 0, false) AS dims_ok, " +
        "true AS payload_ok, kind IN ('image', 'audio', 'video') AS kind_ok FROM m) " +
        "SELECT count(*)::BIGINT AS n_rows, " +
        "sum(CASE WHEN dims_ok AND payload_ok AND kind_ok THEN 1 ELSE 0 END)::BIGINT AS n_good, " +
        "sum(CASE WHEN NOT dims_ok THEN 1 ELSE 0 END)::BIGINT AS n_bad_dims, " +
        "0::BIGINT AS n_bad_payload, " +
        "sum(CASE WHEN NOT kind_ok THEN 1 ELSE 0 END)::BIGINT AS n_bad_kind, " +
        "sum(CASE WHEN NOT (dims_ok AND payload_ok AND kind_ok) THEN 1 ELSE 0 END)::BIGINT AS n_quarantined " +
        "FROM f"),

    // M5 takedown by VISUAL similarity — the notice names ONE media item,
    // the obligation covers every near-duplicate: the target's pHash
    // cluster (m4's banded pairs + CC closure) becomes the doomed id set,
    // purged from the delivered export through p17's touched-shards
    // machinery. Composition is the point: identification by content
    // similarity, erasure by the same bounded-rewrite discipline as ids.
    // M6 payload-entropy quality gate: nibble-distribution Shannon
    // entropy per media row — exact integer symbol counts off the hex
    // rendering, ln absorbed by round-4, flag from the ROUNDED value;
    // every 97th payload planted degenerate (repeated byte → entropy 0)
    Entry("m6_media_entropy", (s, d) => {
      val media = Multimodal.mediaFromDocuments(docs(s, d))
        .withColumn("payload",
          when(col("media_id") % 97 === 0,
            to_binary(lit("aa" * 16), lit("hex"))).otherwise(col("payload")))
      Multimodal.mediaEntropy(media)
    },
      // m6: the same length-difference symbol counts over the same hex
      // rendering (DuckDB md5 IS the payload hex), identical planting
      {
        val cnt = (c: Char) => s"(length(hx) - length(replace(hx, '$c', '')))"
        val terms = "0123456789abcdef".map { c =>
          s"CASE WHEN ${cnt(c)} > 0 THEN -(${cnt(c)}::DOUBLE / length(hx)) * " +
            s"ln(${cnt(c)}::DOUBLE / length(hx)) ELSE 0.0 END"
        }.mkString(" + ")
        "WITH m AS (SELECT doc_id AS media_id, " +
          "CASE WHEN doc_id % 97 = 0 THEN repeat('aa', 16) ELSE md5(text) END AS hx " +
          "FROM documents), " +
          s"e AS (SELECT media_id, round($terms, 4) AS entropy FROM m) " +
          "SELECT media_id, entropy, entropy < 2.0 AS low_entropy " +
          "FROM e ORDER BY media_id"
      }),

    Entry("m5_media_takedown", (s, d) => {
      import s.implicits._
      val m = plantedMedia(s, d)
      val clusters = Dedup.dupClusters(m.select(col("media_id").as("doc_id")),
        Multimodal.mediaNearDupPairs(m).select(col("a_id"), col("b_id")))
      val target = m.where(col("media_id") % 20 === 7)
        .agg(min(col("media_id"))).head.getLong(0)
      val rep = clusters.where(col("doc_id") === target)
        .select(col("cluster_rep")).as[Long].head()
      val doomed = clusters.where(col("cluster_rep") === rep)
        .select(col("doc_id")).as[Long].collect().toSeq
      require(doomed.size >= 2,
        s"target $target must drag at least its planted twin, got ${doomed.size}")
      val out = scratch("m5-export") + "/corpus"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(out))
      graft.operators.Pipeline.shardExport(
        m.select(col("media_id").as("doc_id"),
          lower(hex(col("payload"))).as("text")), out, shards = 8)
      val n = graft.operators.Pipeline.purgeShardExport(s, out, doomed, 8)
      require(n == doomed.size.toLong, s"expected ${doomed.size} purged, got $n")
      s.read.parquet(out)
        .select(col("doc_id").as("media_id"), md5(col("text")).as("payload_md5"))
        .orderBy("media_id")
    },
      // m5: the m4 closure re-derived, then the corpus minus the target's
      // whole cluster (the target is the first planted original, so it is
      // guaranteed an edge to its twin and therefore a row in lbl)
      mediaClusterSql + ", " +
        "tgt AS (SELECT min(doc_id) AS t FROM documents WHERE doc_id % 20 = 7), " +
        "trep AS (SELECT rep AS r FROM lbl, tgt WHERE media_id = t), " +
        "doomed AS (SELECT media_id FROM lbl, trep WHERE rep = r) " +
        "SELECT media_id, md5(hx) AS payload_md5 FROM corp " +
        "WHERE media_id NOT IN (SELECT media_id FROM doomed) ORDER BY media_id")
  )
}
