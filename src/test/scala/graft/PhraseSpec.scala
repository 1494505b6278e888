package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.CodeTokenizer
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, PositionalIndex}
import graft.model.SourceFile
import graft.query.Searcher

/** Exact-phrase BM25 through the positional sidecar, pinned to a sequential
  * from-scratch scorer: docIds AND Double scores must be identical, on both
  * serving paths (driver gather and distributed). */
class PhraseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val NumFiles = 300L

  lazy val corpusDS = CorpusGen.generate(spark, NumFiles).cache()
  lazy val corpusLocal: Seq[SourceFile] = corpusDS.collect().toSeq

  lazy val cfg: IndexConfig = {
    val dir = TestSpark.tmpDir("graft-phrase")
    val c = IndexConfig(indexDir = dir, numShards = 4, buildPartitions = 8,
      heavyDfThreshold = 500)
    IndexBuilder.build(spark, corpusDS, c, "phrase-spec")
    PositionalIndex.build(spark, corpusDS, c, "phrase-spec")
    c
  }

  /** Sequential reference: tokenize every doc, count phrase starts by
    * scanning the kept-token stream, score with the engine's exact
    * expression (same operation order — Double-identical by construction). */
  def refPhrase(phrase: Seq[String], k: Int): Seq[(Long, Double)] = {
    val sorted = corpusLocal.sortBy(sf => (sf.repo, sf.path, sf.commit))
    val toks = sorted.map(sf => CodeTokenizer.tokenize(sf.content).toArray)
    val n = sorted.length.toLong
    val avgDl = toks.map(_.length.toLong).sum.toDouble / n
    def tfOf(ts: Array[String]): Int =
      (0 to ts.length - phrase.length).count(i =>
        phrase.indices.forall(j => ts(i + j) == phrase(j)))
    val cands = toks.zipWithIndex
      .map { case (ts, d) => (d.toLong, tfOf(ts), ts.length) }
      .filter(_._2 > 0)
    if (cands.isEmpty) return Seq.empty
    val k1 = 1.2; val b = 0.75
    val w = IndexBuilder.idf(n, cands.length.toLong) * (k1 + 1.0)
    cands.map { case (d, tf, dl) =>
      (d, w * (tf / (tf + k1 * (1.0 - b + b * dl / avgDl))))
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  /** A phrase guaranteed present: consecutive kept tokens of one document. */
  def phraseFromDoc(docIdx: Int, at: Int, len: Int): Seq[String] = {
    val sorted = corpusLocal.sortBy(sf => (sf.repo, sf.path, sf.commit))
    CodeTokenizer.tokenize(sorted(docIdx).content).slice(at, at + len).toSeq
  }

  test("positions codec roundtrip") {
    val ps = Array(0, 1, 5, 6, 120, 121, 4000)
    val out = scala.collection.mutable.ArrayBuilder.make[Byte]
    var prev = 0
    ps.foreach { p => graft.codec.VByte.encode((p - prev).toLong, out); prev = p }
    assert(PositionalIndex.decodePositions(out.result(), ps.length).toSeq ==
      ps.toSeq)
  }

  test("phrase BM25 == sequential reference (2-term, 3-term, from data)") {
    val searcher = new Searcher(spark, cfg)
    val phrases = Seq(phraseFromDoc(0, 4, 2), phraseFromDoc(7, 10, 3),
      phraseFromDoc(42, 2, 2), Seq("if", "return"))
    var nonEmpty = 0
    phrases.foreach { ph =>
      val got = searcher.searchPhrase(ph.mkString(" "), 15)
        .map(sd => (sd.docId, sd.score)).toSeq
      val want = refPhrase(ph, 15)
      assert(got == want, s"phrase $ph")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 3, "test phrases must actually occur")
  }

  test("gather and distributed phrase paths are bit-identical") {
    val gather = new Searcher(spark, cfg)
    val dist = new Searcher(spark, cfg, phraseGatherMaxPostings = 0L)
    Seq(phraseFromDoc(3, 6, 2), phraseFromDoc(11, 1, 3)).foreach { ph =>
      val q = ph.mkString(" ")
      val a = gather.searchPhrase(q, 10).map(sd => (sd.docId, sd.score)).toSeq
      val b = dist.searchPhrase(q, 10).map(sd => (sd.docId, sd.score)).toSeq
      assert(a == b, s"path divergence for $ph")
      assert(a.nonEmpty)
    }
    dist.close(); gather.close()
  }

  test("distributed phrase path with dl joined from the docs table == " +
      "gather path == sequential reference") {
    val gather = new Searcher(spark, cfg)
    // no gather budget and no broadcast norms: the candidates shuffle by
    // docId and take dl from a join with the docs table
    val cogrouped = new Searcher(spark, cfg, phraseGatherMaxPostings = 0L,
      broadcastNormsMaxDocs = 0L)
    Seq(phraseFromDoc(5, 3, 2), phraseFromDoc(20, 0, 3), Seq("if", "return"))
      .foreach { ph =>
        val q = ph.mkString(" ")
        val want = refPhrase(ph, 10)
        assert(want.nonEmpty, s"phrase $ph must occur")
        assert(gather.searchPhrase(q, 10).map(sd => (sd.docId, sd.score)).toSeq
          == want, s"gather path, phrase $ph")
        assert(cogrouped.searchPhrase(q, 10).map(sd => (sd.docId, sd.score))
          .toSeq == want, s"cogrouped-norms path, phrase $ph")
      }
    cogrouped.close(); gather.close()
  }

  test("duplicate-term phrase counts overlapping starts") {
    // build a tiny dedicated corpus where 'xx xx xx' gives 2 starts
    val docs = Seq(
      SourceFile("r", "a", "c", "t", "xx xx xx yy"),
      SourceFile("r", "b", "c", "t", "xx yy xx xx"),
      SourceFile("r", "d", "c", "t", "yy yy yy yy")).toDS()
    val dir = TestSpark.tmpDir("graft-phrase-dup")
    val c = IndexConfig(indexDir = dir, numShards = 2, buildPartitions = 2)
    IndexBuilder.build(spark, docs, c, "dup")
    PositionalIndex.build(spark, docs, c, "dup")
    val s = new Searcher(spark, c)
    val got = s.searchPhrase("xx xx", 10)
    // doc a (docId 0): starts at 0,1 -> tf 2; doc b (docId 1): tf 1
    assert(got.map(_.docId).toSeq == Seq(0L, 1L))
    val n = 3L; val avgDl = (4 + 4 + 4) / 3.0
    val w = IndexBuilder.idf(n, 2L) * (1.2 + 1.0)
    def sc(tf: Int, dl: Int) =
      w * (tf / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgDl)))
    assert(got.map(_.score).toSeq == Seq(sc(2, 4), sc(1, 4)))
    s.close()
  }

  test("single-term phrase scores exactly like the bag-of-words engine") {
    val s = new Searcher(spark, cfg)
    val ph = s.searchPhrase("return", 10).map(sd => (sd.docId, sd.score)).toSeq
    val bow = s.searchWAND("return", 10).map(sd => (sd.docId, sd.score)).toSeq
    assert(ph == bow)
    assert(ph.nonEmpty)
  }

  test("a phrase containing an unindexed term matches nothing") {
    val s = new Searcher(spark, cfg)
    assert(s.searchPhrase("zzqqzzqq if", 10).isEmpty)
    assert(s.searchPhrase("", 10).isEmpty)
  }

  test("maintained positional sidecar: refresh == from-scratch rebuild; " +
      "append retries are no-ops") {
    import org.apache.spark.sql.functions._
    val root = TestSpark.tmpDir("graft-phrase-maint")
    val ops = new graft.sources.TableOps(spark, root)
    ops.create("pdocs",
      corpusDS.limit(120).toDF().repartition(3, col("path")))
    val c = IndexConfig(indexDir = s"$root/__idx", numShards = 2,
      buildPartitions = 4, heavyDfThreshold = 500)
    val ti = new graft.index.TableIndexer(spark, ops, c)
    ti.create("pdocs", positions = true)
    val v0 = ops.currentVersion("pdocs")

    // delete a slice, update another (rewrites whole files — carried rows
    // re-enter with fresh docIds), insert docs carrying an adjacent pair
    ops.delete("pdocs", pmod(crc32(col("path")), lit(5)) === 0)
    ops.update("pdocs", pmod(crc32(col("path")), lit(5)) === 1, "content",
      concat(col("content"), lit(" pmarker pmarker")))
    ops.insert("pdocs", Seq(
      SourceFile("zz", "pnew1", "c", "t", "pmarker pmarker alpha beta"),
      SourceFile("zz", "pnew2", "c", "t", "alpha pmarker beta pmarker pmarker"),
      SourceFile("zz", "pnew3", "c", "t", "no marker pair here pmarker"))
      .toDS().toDF())
    ti.refresh("pdocs")
    val vCur = ops.currentVersion("pdocs")

    // the sidecar was APPENDED, not rebuilt: a posseg segment landed
    assert(new java.io.File(c.positionsPath).listFiles()
      .exists(_.getName.startsWith("posseg0-")), "positional segment missing")

    // from-scratch twin over the live snapshot
    val c2 = IndexConfig(indexDir = TestSpark.tmpDir("graft-phrase-maintref"),
      numShards = 2, buildPartitions = 4, heavyDfThreshold = 500)
    val live = ops.read("pdocs")
      .select($"repo", $"path", $"commit", $"lang", $"content")
      .as[SourceFile]
    IndexBuilder.build(spark, live, c2, "maint-ref")
    PositionalIndex.build(spark, live, c2, "maint-ref")

    def byKey(cc: IndexConfig, top: Array[graft.model.ScoredDoc])
        : Map[(String, String), Double] = {
      val keys = spark.read.parquet(cc.docsPath)
        .select($"docId", $"repo", $"path").as[(Long, String, String)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      top.map(sd => keys(sd.docId) -> sd.score).toMap
    }
    val sM = new Searcher(spark, c)
    val sR = new Searcher(spark, c2)
    Seq("pmarker pmarker", "if return", "alpha beta").foreach { ph =>
      val m = byKey(c, sM.searchPhrase(ph, 1000))
      val r = byKey(c2, sR.searchPhrase(ph, 1000))
      assert(m == r, s"maintained != rebuild for phrase '$ph'")
    }
    // the marker phrase must actually exercise updated AND inserted docs
    val marker = byKey(c, sM.searchPhrase("pmarker pmarker", 1000))
    assert(marker.keys.exists(_._1 == "zz"), "inserted docs missing")
    assert(marker.keys.exists(_._1 != "zz"), "updated docs missing")

    // retry guards: replaying the SAME append (main + positional) is a
    // no-op — the crash window between the refresh's final append record
    // and its sync record must not double-index the batch
    val fpRetry = s"table:pdocs:v$v0-v$vCur"
    val batch = ops.read("pdocs").limit(2)
      .select($"repo", $"path", $"commit", $"lang", $"content").as[SourceFile]
    val docsBefore = IndexBuilder.stats(c).numDocs
    IndexBuilder.append(spark, batch, c, fingerprint = fpRetry)
    assert(IndexBuilder.stats(c).numDocs == docsBefore, "append replayed")
    val posBefore = spark.read.parquet(c.positionsPath).count()
    PositionalIndex.append(spark, batch, c, fingerprint = fpRetry,
      baseDocId = 0L)
    assert(spark.read.parquet(c.positionsPath).count() == posBefore,
      "positional append replayed")
    sM.close(); sR.close()
  }
}
