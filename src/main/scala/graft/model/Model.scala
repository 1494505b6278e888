package graft.model

/** Core data model of the graft engine.
  *
  * The engine carries the query/data-processing capability surface of the
  * reference (mush-zhang/terrier, a single-node MVCC relational DBMS — see
  * /root/reference/README.md:1-38) re-expressed Spark-first, and instantiates
  * it as an inverted-index build + BM25 top-k query engine over a table of
  * source-code repositories (BASELINE.json `north_rule`).
  *
  * Schema mapping notes (reference type system: type/type_id.h:22-35):
  * terrier has no nested/array types; our posting blocks use BinaryType rows
  * (packed delta+VByte bytes) plus flat block-max metadata columns — a
  * deliberate superset (SURVEY.md §1.2).
  */

/** One row of the input corpus table (BASELINE.json `input_hint`):
  * (repo, path, commit, lang, content). */
final case class SourceFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** Global document map entry: docId is the dense global rank of the unique
  * key (repo, path, commit) under lexicographic order. Deterministic across
  * runs and parallelism levels (rank-identity requirement, SURVEY.md §7.5). */
final case class DocMapEntry(
    docId: Long,
    repo: String,
    path: String,
    commit: String)

/** Per-document metadata row of the built index ("docs" stage).
  * `dl` = token count (BM25 document length); `sha` = sha2(content, 256),
  * the per-row lineage invariant vs the source table. */
final case class DocEntry(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    dl: Int,
    sha: String)

/** A raw posting produced by the inversion stage: term occurs `tf` times in
  * document `docId` whose length is `dl` tokens. */
final case class RawPosting(term: String, docId: Long, tf: Int, dl: Int)

/** One encoded posting block: ≤ blockSize docId-consecutive postings of one
  * term. A term's blocks are cut only at blockSize or at the end of its
  * (termId, salt) group, so every block but a group's last is full.
  *
  * Terms are dictionary-encoded: `termId` is the dense rank of the term
  * string in the corpus vocabulary (the lexicon maps term -> termId). Int
  * keys roughly halve postings shuffle bytes and give the sort/partition
  * machinery numeric keys — the same reason terrier/Lucene key postings by
  * term id, not term text.
  *
  * Layout of `bytes` (see graft.codec.PostingCodec): VByte(count),
  * VByte(firstDocId), VByte deltas for the remaining docIds (delta ≥ 1),
  * then VByte(tf) for every posting in order.
  *
  * Block-max metadata (`maxTfNorm`) is the max over the block of the BM25
  * tf-normalization term tf / (tf + k1*(1 - b + b*dl/avgdl)); multiplying by
  * idf(term) * (k1+1) at query time yields the block's score upper bound —
  * the Block-Max WAND pruning key. It bounds every sub-range of the block
  * too, so a shard task that scores only its own docId range may use it.
  *
  * `shard` is the stored shard of `firstDocId` (the docs table's `shard`);
  * for a salted heavy term it is the salt, and the block lies inside that
  * shard. A light term's block may cross shard ranges: distributed serving
  * sends it to every shard whose docId range it overlaps. `blockIdx`
  * counts from 0 within each (termId, salt) group.
  */
final case class PostingBlockRow(
    termId: Int,
    shard: Int,
    blockIdx: Int,
    firstDocId: Long,
    lastDocId: Long,
    count: Int,
    maxTf: Int,
    sumTf: Long,
    maxTfNorm: Double,
    bytes: Array[Byte])

/** Lexicon entry: per-term global statistics after segment merge. */
final case class LexiconEntry(
    term: String,
    termId: Int,
    df: Long,
    cf: Long,
    nBlocks: Int,
    maxTfNorm: Double)

/** Corpus-level statistics needed by BM25. */
final case class CorpusStats(
    numDocs: Long,
    avgDl: Double,
    totalTokens: Long,
    vocabSize: Long)

/** A scored query result. Tie-break contract everywhere in the engine:
  * score DESC, then docId ASC (SURVEY.md §7.0). */
final case class ScoredDoc(docId: Long, score: Double)

/** BM25 parameters; defaults fixed by BASELINE.json (k1=1.2, b=0.75). */
final case class BM25Params(k1: Double = 1.2, b: Double = 0.75)
