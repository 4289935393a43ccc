package graft.model

/** Core data model of the graft engine (SURVEY.md §1.2).
  *
  * Mirrors the reference's decomposition — `InvertedList`/`IVFADCIndex`
  * (/root/reference/src/index.jl:8-11,39-48) — re-expressed as Spark
  * Dataset row types over the source-code table shape from
  * BASELINE.json `input_hint`.
  */

/** A document after docID assignment and tokenization.
  * docId is dense 0-based in (repo, path, commit) order — the analog of
  * the reference's dense insertion-order ids
  * (/root/reference/src/index.jl:189).
  */
case class Doc(
    doc_id: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    content_sha: String,
    doc_len: Int)

/** One posting: term occurs `tf` times in doc `docId` (of token length
  * `dl`) at 0-based token `positions`. The graft analog of one
  * (id, code) pair in the reference's `InvertedList`
  * (/root/reference/src/index.jl:8-11).
  */
case class Posting(
    term: String,
    cluster_id: Int,
    doc_id: Long,
    tf: Int,
    dl: Int,
    positions: Array[Int])

/** A compressed posting block: up to `count` postings for one term inside
  * one cluster-partition. docIDs are delta+varint packed; tfs and doc
  * lengths varint packed (dl rides along so the scorer can compute the
  * exact BM25 contribution without a docstore join); positions varint
  * packed (per-doc: npos, then gaps). BM25 factorizes as
  * idf(term) × g(tf, dl); `block_max` stores the largest idf-FREE
  * factor g in the block (the query side scales it by idf × qtf), so
  * block encoding needs no dictionary join and the dictionary itself
  * aggregates from block metadata (`count` → df, `tf_sum` → cf).
  * `segment_id` records which build task (range segment) produced the
  * block (lineage).
  * The graft analog of the reference's PQ code payload
  * (/root/reference/src/index.jl:10) — a compact per-list byte encoding.
  */
case class PostingBlock(
    term: String,
    cluster_id: Int,
    segment_id: Int,
    block_id: Int,
    first_doc: Long,
    last_doc: Long,
    count: Int,
    tf_sum: Long,
    block_max: Double,
    doc_gaps: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    positions: Array[Byte])

/** Dictionary entry: document frequency, collection frequency, idf. */
case class DictEntry(term: String, df: Long, cf: Long, idf: Double)

/** Projection of PostingBlock read by the BM25 scorer — drops the
  * positions payload (the heaviest column) so Parquet column pruning
  * keeps it out of the scan entirely.
  */
case class ScorerBlock(
    term: String,
    cluster_id: Int,
    first_doc: Long,
    last_doc: Long,
    count: Int,
    block_max: Double,
    doc_gaps: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte])

/** Per-cluster-partition build lineage + metrics (north_rule: postings/sec
  * and bytes/posting logged per segment, per-partition lineage).
  */
case class PartitionMeta(
    cluster_id: Int,
    num_docs: Long,
    num_postings: Long,
    num_blocks: Long,
    bytes: Long,
    build_millis: Long,
    postings_per_sec: Double,
    bytes_per_posting: Double)
