package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.CodeTokenizer
import graft.checkpoint.Manifest
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexSchema, PosBlockRow,
  PositionalIndex, TableIndexer}
import graft.model.{PostingBlockRow, SourceFile}
import graft.query.Searcher
import graft.sources.TableOps

/** The positional sidecar holds one row per postings block, keyed by the
  * block's (termId, firstDocId): after every operation that writes blocks,
  * each positions row must name a postings block, each block must have one
  * positions row, and the row must hold exactly the block's summed tf
  * positions, strictly increasing per posting. */
class PositionsLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // repos prefixed so the lexicographic key order equals the append order
  def files(prefix: String, ids: Range): Seq[SourceFile] = ids.map { i =>
    val f = CorpusGen.genFile(i.toLong, 42L); f.copy(repo = prefix + f.repo)
  }

  /** Low heavy-df threshold (common terms are salted by shard) and small
    * blocks (long chains are cut at blockSize). */
  def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = 4,
    blockSize = 16, heavyDfThreshold = 20, buildPartitions = 4)

  def assertAligned(tag: String, c: IndexConfig): Unit = {
    val blocks = spark.read.schema(IndexSchema.postings).parquet(c.postingsPath)
      .as[PostingBlockRow].collect()
    val pos = spark.read.schema(IndexSchema.positions).parquet(c.positionsPath)
      .as[PosBlockRow].collect()
    val byKey = blocks.map(b => (b.termId, b.firstDocId) -> b).toMap
    assert(byKey.size == blocks.length, s"[$tag] (termId, firstDocId) repeats")
    assert(pos.map(r => (r.termId, r.firstDocId)).distinct.length == pos.length,
      s"[$tag] two positions rows for one block")
    pos.foreach { r =>
      val b = byKey.getOrElse((r.termId, r.firstDocId),
        fail(s"[$tag] no postings block for (${r.termId}, ${r.firstDocId})"))
      assert(r.posBytes.count(_ >= 0) == b.sumTf,
        s"[$tag] block (${r.termId}, ${r.firstDocId}): positions != sumTf")
      PositionalIndex.foreachPosting(b.bytes, r.posBytes) { (d, ps) =>
        assert(ps.indices.drop(1).forall(i => ps(i) > ps(i - 1)),
          s"[$tag] term ${r.termId}, doc $d: positions not increasing")
      }
    }
    assert(pos.length == blocks.length, s"[$tag] blocks without positions")
    assert(new Manifest(c.indexDir).get("positions").get.rows == pos.length,
      s"[$tag] the positions record counts blocks")
  }

  /** Phrases of two and three adjacent tokens from `docs`, plus a common
    * pair. */
  def phrases(docs: Seq[SourceFile]): Seq[String] =
    Seq((0, 4, 2), (7, 10, 3), (30, 2, 2)).map { case (d, at, len) =>
      CodeTokenizer.tokenize(docs(d).content).slice(at, at + len).mkString(" ")
    } :+ "if return"

  /** Phrase top-20 as (docId, score bits), on the gather and the
    * distributed paths (which must agree). */
  def phraseResults(c: IndexConfig, qs: Seq[String]): Seq[Seq[(Long, Long)]] = {
    val gather = new Searcher(spark, c)
    val dist = new Searcher(spark, c, phraseGatherMaxPostings = 0L)
    def run(s: Searcher, q: String) = s.searchPhrase(q, 20).toSeq
      .map(sd => (sd.docId, java.lang.Double.doubleToRawLongBits(sd.score)))
    try qs.map { q =>
      val g = run(gather, q)
      assert(g == run(dist, q), s"gather != distributed for '$q'")
      g
    } finally { gather.close(); dist.close() }
  }

  test("positions align with the postings blocks after a salted build, an " +
      "append and IndexBuilder.compact; compact keeps phrase results") {
    val base = files("a_", 0 until 100)
    val batch = files("b_", 100 until 140)
    val c = cfg(TestSpark.tmpDir("graft-poslayout"))
    IndexBuilder.build(spark, base.toDS(), c, "base")
    PositionalIndex.build(spark, base.toDS(), c, "base")
    assert(new Manifest(c.indexDir).get("postings").get
      .extra("heavyTerms").toInt > 0, "no term was salted")
    assertAligned("build", c)

    IndexBuilder.append(spark, batch.toDS(), c, "batch")
    PositionalIndex.append(spark, batch.toDS(), c, "batch",
      baseDocId = base.size.toLong)
    assertAligned("append", c)

    val qs = phrases(base ++ batch)
    val before = phraseResults(c, qs)
    assert(before.count(_.nonEmpty) >= 3, "test phrases must occur")
    IndexBuilder.compact(spark, c)
    assertAligned("compact", c)
    assert(phraseResults(c, qs) == before)
  }

  test("positions align with the postings blocks after a TableIndexer " +
      "refresh with deletes and TableIndexer.compact") {
    val a = files("a_", 0 until 80)
    val root = TestSpark.tmpDir("graft-poslayout-table")
    val ops = new TableOps(spark, s"$root/tables")
    ops.create("t", a.take(40).toDF().coalesce(1))
    ops.insert("t", a.drop(40).toDF().coalesce(1))
    val ti = new TableIndexer(spark, ops, cfg(s"$root/idx"))
    ti.create("t", positions = true)
    assertAligned("create", ti.cfg)
    ops.delete("t", col("path").isin(a.take(8).map(_.path): _*))
    ops.update("t", col("path").isin(a.slice(40, 44).map(_.path): _*),
      "content", concat(col("content"), lit(" zzz_marker if return")))
    ops.insert("t", files("b_", 100 until 130).toDF().coalesce(1))
    ti.refresh("t")
    assertAligned("refresh", ti.cfg)
    ti.compact("t")
    assertAligned("table-compact", ti.cfg)
  }
}
