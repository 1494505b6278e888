package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.checkpoint.Manifest
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.model._
import graft.query.{Searcher, SequentialOracle}

/** End-to-end index build + BM25 rank-parity suite (the engine's analogue of
  * the reference's golden compiled-query tests, compiler_test.cpp). */
class IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val NumFiles = 800
  // Low salt threshold + few shards on purpose: forces the heavy-term salted
  // path at test scale.
  // Tiny encodeTargetBytes on purpose: the build's scale-adaptive sizing
  // would collapse this test corpus to one postings file, and the
  // range-placed multi-file layout property below needs several files to
  // be observable — the same forced-path spirit as the low salt threshold.
  def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = 8,
    heavyDfThreshold = 300, buildPartitions = 8,
    encodeTargetBytes = 64L * 1024)

  lazy val corpusDS = CorpusGen.generate(spark, NumFiles).cache()
  lazy val corpusLocal: Seq[SourceFile] =
    (0L until NumFiles).map(CorpusGen.genFile(_, 42L))
  lazy val oracle = new SequentialOracle(corpusLocal)

  lazy val indexDir = TestSpark.tmpDir("graft-index")
  lazy val built: CorpusStats = IndexBuilder.build(spark, corpusDS, cfg(indexDir))
  lazy val searcher = new Searcher(spark, cfg(indexDir))

  // frozen reference query set (FIXTURES.md §1): rare + common + absent +
  // all-heavy-hitter mixes, 1..4 terms
  val refQueries = Seq(
    "if", "return", "if return", "def val",
    "get_set", "node_item", "hash join",
    "scan sort merge agg",
    "if return def val",
    "zzz_not_a_term", "if zzz_not_a_term",
    "get_map_x003", "buf_node", "import class",
    "exec_plan", "package range var type",
    "the and for with", "col row doc term",
    "static void", "idx_buf_x100")

  test("corpus generator is deterministic and matches the driver-side gen") {
    val a = CorpusGen.genFile(123L, 42L)
    val b = CorpusGen.genFile(123L, 42L)
    assert(a == b)
    val fromSpark = corpusDS.filter($"path".contains("File123.")).collect()
    assert(fromSpark.length == 1 && fromSpark.head == a)
  }

  test("index builds with plausible stats") {
    assert(built.numDocs == NumFiles)
    assert(built.avgDl > 100 && built.totalTokens > 100000L)
    assert(built.vocabSize > 100)
  }

  test("docIds are the dense lexicographic rank of (repo, path, commit)") {
    val dm = spark.read.parquet(cfg(indexDir).docsPath)
      .select($"docId", $"repo", $"path", $"commit")
      .as[DocMapEntry].collect().sortBy(_.docId)
    assert(dm.length == NumFiles)
    assert(dm.map(_.docId).toSeq == (0L until NumFiles))
    val keys = dm.map(e => (e.repo, e.path, e.commit)).toSeq
    assert(keys == keys.sorted)
    // agrees with the sequential oracle's docId assignment
    assert(keys.head == oracle.docKey(0L))
    assert(keys.last == oracle.docKey(NumFiles - 1L))
  }

  test("heavy terms were salted across shards (skew defusal engaged)") {
    val m = new Manifest(indexDir)
    assert(m.get("postings").get.extra("heavyTerms").toInt > 0)
    val ifId = spark.read.parquet(cfg(indexDir).vocabPath)
      .filter($"term" === "if").select($"termId").as[Int].head()
    val blocks = spark.read.parquet(cfg(indexDir).postingsPath)
    val shardsOfIf = blocks.filter($"termId" === ifId)
      .select(countDistinct($"shard")).as[Long].head()
    assert(shardsOfIf > 1, "term 'if' should span multiple shards")
  }

  test("postings round-trip: decoded postings == per-doc term frequencies") {
    val termOf = spark.read.parquet(cfg(indexDir).vocabPath)
      .select($"termId", $"term").as[(Int, String)].collect().toMap
    val decoded = spark.read.parquet(cfg(indexDir).postingsPath)
      .as[PostingBlockRow]
      .flatMap(b => graft.codec.PostingCodec.decodeBlock(b.bytes)
        .map(p => (b.termId, p.docId, p.tf)))
      .collect().map { case (id, d, tf) => (termOf(id), d, tf) }.toSet
    val expected = corpusLocal.sortBy(f => (f.repo, f.path, f.commit))
      .zipWithIndex.flatMap { case (f, d) =>
        graft.analysis.CodeTokenizer.termFreqs(f.content)._1
          .map { case (t, tf) => (t, d.toLong, tf) }
      }.toSet
    assert(decoded == expected)
  }

  test("blocks are cut only at blockSize or a (termId, salt) group's end") {
    // a group is one (termId, salt): a light term's whole chain (salt 0), or
    // one shard of a salted heavy term, whose stored shard is its salt
    val c = cfg(indexDir)
    val nDocs = built.numDocs
    val heavy = spark.read.parquet(c.lexiconPath)
      .filter($"df" > c.heavyDfThreshold).select($"termId").as[Int]
      .collect().toSet
    assert(heavy.nonEmpty, "test corpus must have salted heavy terms")
    val groups = spark.read.parquet(c.postingsPath).as[PostingBlockRow]
      .collect().groupBy(b => (b.termId, if (heavy(b.termId)) b.shard else 0))
    var crossing = 0
    groups.foreach { case ((t, salt), bs) =>
      val chain = bs.sortBy(_.blockIdx)
      assert(chain.map(_.blockIdx).toSeq == chain.indices, s"term $t/$salt blockIdx")
      chain.foreach { b =>
        assert(b.firstDocId <= b.lastDocId)
        assert(b.shard == IndexBuilder.shardOf(b.firstDocId, nDocs, c.numShards),
          s"term $t block ${b.blockIdx}: stored shard is not its firstDocId's")
        if (heavy(t))
          assert(IndexBuilder.shardOf(b.lastDocId, nDocs, c.numShards) == salt,
            s"heavy term $t block ${b.blockIdx} leaves shard $salt")
        else if (b.shard != IndexBuilder.shardOf(b.lastDocId, nDocs, c.numShards))
          crossing += 1
      }
      chain.sliding(2).foreach {
        case Array(x, y) =>
          assert(x.lastDocId < y.firstDocId, s"term $t/$salt: blocks overlap")
          assert(x.count == c.blockSize, s"term $t/$salt: short inner block")
        case _ => ()
      }
    }
    // the layout's point: light chains cross shard ranges (the distributed
    // path's multi-shard blocks are exercised by the parity tests below)
    assert(crossing > 0, "no block crosses a shard range")
  }

  test("packRuns=false (raw-row shuffle) builds a bit-identical index") {
    // the per-deployment toggle: packed runs for network-shuffle clusters,
    // raw rows for local-disk layouts — SAME blocks either way
    val dirOff = TestSpark.tmpDir("graft-index-nopack")
    val cfgOff = cfg(dirOff).copy(packRuns = false)
    IndexBuilder.build(spark, corpusDS, cfgOff)
    def blocksOf(dir: String) = spark.read.parquet(cfg(dir).postingsPath)
      .select($"termId", $"shard", $"blockIdx", $"count", $"sumTf",
        $"maxTfNorm", $"firstDocId", $"lastDocId", md5($"bytes").as("b"))
    val on = blocksOf(indexDir)
    val off = blocksOf(dirOff)
    assert(on.count() == off.count())
    assert(on.except(off).isEmpty && off.except(on).isEmpty,
      "packed and raw-row builds emitted different blocks")
    // and identical ranked results through the full serving path
    val sOff = new Searcher(spark, cfgOff)
    refQueries.take(6).foreach { q =>
      val a = searcher.searchWAND(q, 10).toSeq.map(sd => (sd.docId, sd.score))
      val b = sOff.searchWAND(q, 10).toSeq.map(sd => (sd.docId, sd.score))
      assert(a == b, s"pack on/off rank divergence for '$q'")
    }
  }

  test("salting bounds every reduce group's size (the numShards sizing rule)") {
    // a reduce group in the postings shuffle is one (termId, salt); for a
    // salted heavy term salt == docId shard, so per-(termId, shard) posting
    // counts measure exactly the per-group memory the sizing rule at
    // IndexConfig.numShards bounds: ~df/numShards postings (x ~5 packed
    // bytes). Docs are uniform over the id space here, so allow 2x slack.
    val nShards = cfg(indexDir).numShards
    val lex = spark.read.parquet(cfg(indexDir).lexiconPath)
      .select($"termId", $"df")
    val heavy = lex.filter($"df" > cfg(indexDir).heavyDfThreshold)
    assert(heavy.count() > 0, "test corpus must have salted heavy terms")
    val worst = spark.read.parquet(cfg(indexDir).postingsPath)
      .groupBy($"termId", $"shard").agg(sum($"count").as("groupPostings"))
      .join(heavy, "termId")
      .select(($"groupPostings" / ($"df" / nShards)).as("ratio"))
      .agg(max($"ratio")).as[Double].head()
    assert(worst <= 2.0,
      f"a heavy term's reduce group holds $worst%.2fx df/numShards — salting failed")
  }

  test("lexicon df/cf match the oracle's corpus statistics") {
    val lexDf = spark.read.parquet(cfg(indexDir).lexiconPath)
      .select($"term", $"df").as[(String, Long)].collect().toMap
    val expectedDf = scala.collection.mutable.HashMap.empty[String, Long]
    corpusLocal.foreach { f =>
      graft.analysis.CodeTokenizer.termFreqs(f.content)._1.keysIterator
        .foreach(t => expectedDf.update(t, expectedDf.getOrElse(t, 0L) + 1L))
    }
    assert(lexDf.size == expectedDf.size)
    assert(lexDf("if") == expectedDf("if"))
    expectedDf.foreach { case (t, d) => assert(lexDf(t) == d, s"df($t)") }
  }

  test("BM25 rank parity: TAAT == WAND == sequential oracle (exact scores)") {
    refQueries.foreach { q =>
      val exp = oracle.topK(q, 10)
      val taat = searcher.searchTAAT(q, 10).toVector
      val wand = searcher.searchWAND(q, 10).toVector
      assert(taat == exp, s"TAAT mismatch for '$q'")
      assert(wand == exp, s"WAND mismatch for '$q'")
    }
  }

  test("distributed WAND == gather WAND == driver-local serving WAND (exact scores)") {
    // localServeMaxBlocks=0 + gatherMaxBlocks=0 forces the full distributed
    // flatMapGroups shuffle path; gather-only forces the one-job collect
    // path; the default serves this small index in-process. All three must
    // be bit-identical to each other and to the oracle.
    val shuffled = new Searcher(spark, cfg(indexDir),
      localServeMaxBlocks = 0L, gatherMaxBlocks = 0L)
    val gathered = new Searcher(spark, cfg(indexDir), localServeMaxBlocks = 0L)
    refQueries.foreach { q =>
      val d = shuffled.searchWAND(q, 10).toVector
      val g = gathered.searchWAND(q, 10).toVector
      val l = searcher.searchWAND(q, 10).toVector
      assert(d == l, s"local/distributed divergence for '$q'")
      assert(g == l, s"gather/local divergence for '$q'")
      assert(l == oracle.topK(q, 10), s"oracle mismatch for '$q'")
    }
  }

  test("cogrouped-norms path: WAND and TAAT == sequential oracle (exact scores)") {
    // broadcastNormsMaxDocs = 0 lowers the 10M-doc threshold below this
    // index: norms are cogrouped by stored shard instead of broadcast, and
    // (with both block budgets at 0) every WAND query runs distributed.
    // TAAT joins the persisted norms whatever the threshold, so a few of its
    // queries suffice here.
    val cogrouped = new Searcher(spark, cfg(indexDir), localServeMaxBlocks = 0L,
      gatherMaxBlocks = 0L, broadcastNormsMaxDocs = 0L)
    refQueries.foreach { q =>
      assert(cogrouped.searchWAND(q, 10).toVector == oracle.topK(q, 10),
        s"WAND mismatch for '$q'")
    }
    refQueries.take(6).foreach { q =>
      assert(cogrouped.searchTAAT(q, 10).toVector == oracle.topK(q, 10),
        s"TAAT mismatch for '$q'")
    }
  }

  test("rank parity holds at a different shuffle parallelism (N vs 4N proxy)") {
    val dir2 = TestSpark.tmpDir("graft-index2")
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val c2 = cfg(dir2).copy(buildPartitions = 3)
      IndexBuilder.build(spark, corpusDS, c2)
      val s2 = new Searcher(spark, c2)
      refQueries.foreach { q =>
        assert(s2.searchWAND(q, 10).toVector == oracle.topK(q, 10),
          s"parallelism-dependent result for '$q'")
      }
      // lexicon identical across parallelism levels
      val l1 = spark.read.parquet(cfg(indexDir).lexiconPath)
        .as[LexiconEntry].collect().sortBy(_.term).toSeq
      val l2 = spark.read.parquet(c2.lexiconPath)
        .as[LexiconEntry].collect().sortBy(_.term).toSeq
      assert(l1 == l2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("lineage invariant: stored sha == sha2(content,256) of source rows") {
    assert(searcher.verifyLineage(corpusDS) == 0L)
  }

  test("resume: restart after partial build skips completed stages, same index") {
    val dir3 = TestSpark.tmpDir("graft-index3")
    val c3 = cfg(dir3)
    // crash after stage 2: the postings stage's commit (version 4) fails
    val (_, crashed) = FaultInjection.run(dir3, (_, op, path) =>
        op == "createExclusive" && path == s"$dir3/commits/v4") {
      IndexBuilder.build(spark, corpusDS, c3)
    }
    assert(crashed)
    val m = new Manifest(dir3)
    assert(m.get("docs").nonEmpty && m.get("postings").isEmpty)
    val forwardWallBefore = m.get("forward").get.wallMs
    val docsMtime = new java.io.File(c3.docsPath).lastModified()

    IndexBuilder.build(spark, corpusDS, c3) // resume
    assert(m.get("forward").get.wallMs == forwardWallBefore, "forward re-ran")
    assert(new java.io.File(c3.docsPath).lastModified() == docsMtime, "docs re-ran")
    val s3 = new Searcher(spark, c3)
    refQueries.take(6).foreach { q =>
      assert(s3.searchWAND(q, 10).toVector == oracle.topK(q, 10))
    }
  }

  test("vocabulary never lands on the driver: distributed dense termIds") {
    // Driver-memory contract: the build's only vocab-sized driver state is
    // the partition-count-sized offsets array — termIds are assigned by
    // range-partition + per-partition-offset rank (writeRanked), the same
    // trick as docIds, so a 1e9-term corpus builds with a small driver.
    // Pin the rank semantics: ids are the dense lexicographic rank,
    // IDENTICAL across partition counts.
    import graft.index.IndexBuilder
    val terms = Seq("delta", "alpha", "echo", "bravo", "charlie", "foxtrot")
      .map(t => (t, 1L))
    val expected = terms.map(_._1).sorted.zipWithIndex.toMap
    Seq(1, 2, 5).foreach { parts =>
      val out = TestSpark.tmpDir(s"graft-rank-$parts")
      val (n, maxDf) = IndexBuilder.writeRanked(spark, terms.toDS(), parts,
        s"$out/vocab", baseId = 0L)
      assert(n == terms.length)
      assert(maxDf == 1L)
      val got = spark.read.parquet(s"$out/vocab")
        .select($"term", $"termId").as[(String, Int)].collect().toMap
      assert(got == expected, s"rank drift at parts=$parts")
    }
    // and the real index's vocab is the dense rank of its term set
    val v = spark.read.parquet(cfg(indexDir).vocabPath)
      .select($"term", $"termId").as[(String, Int)].collect().sortBy(_._2)
    assert(v.map(_._2).toSeq == v.indices)
    assert(v.map(_._1).toSeq == v.map(_._1).sorted.toSeq)
  }

  test("per-partition build metrics were recorded") {
    val metrics = spark.read.parquet(cfg(indexDir).metricsPath)
    assert(metrics.filter($"stage" === "forward").count() > 0)
    assert(metrics.filter($"stage" === "postings").count() > 0)
    assert(metrics.agg(sum($"rows")).as[Long].head() > 0L)
  }

  test("postings layout is termId-ranged: a term lookup touches O(1) files") {
    built
    // per-FILE termId ranges are contiguous and non-overlapping (a termId
    // whose blocks straddle a partition boundary may share it — nothing
    // else may): the property that makes footer stats a file-level index.
    // Read each file individually — a whole-dir read would be cache-
    // substituted by the searcher's persisted postingsDF, where
    // input_file_name() is empty.
    val postFiles = new java.io.File(cfg(indexDir).postingsPath)
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString)
    val perFile = postFiles.map { f =>
      val r = spark.read.parquet(f).agg(min($"termId"), max($"termId"))
        .as[(Int, Int)].head()
      (f, r._1, r._2)
    }.sortBy(_._2)
    assert(perFile.length > 4, s"want a multi-file layout, got ${perFile.length}")
    perFile.sliding(2).foreach {
      case Array((fa, _, aMx), (fb, bMn, _)) =>
        assert(bMn >= aMx, s"file ranges overlap: $fa [..,$aMx] vs $fb [$bMn,..]")
      case _ => ()
    }
    // the Searcher's footer index selects ≤ 2 files per term (2 = boundary
    // straddle), and those files hold ALL of the term's blocks (no misses)
    val allBlocks = spark.read.parquet(cfg(indexDir).postingsPath)
    val someTerms = spark.read.parquet(cfg(indexDir).vocabPath)
      .select($"termId").as[Int].collect().sorted
      .grouped(math.max(1, built.vocabSize.toInt / 20)).map(_.head).toSeq
    someTerms.foreach { t =>
      val sel = searcher.postingsFilesFor(Array(t))
      assert(sel.size <= 2, s"term $t maps to ${sel.size} files")
      val total = allBlocks.filter($"termId" === t).count()
      val inSel =
        if (sel.isEmpty) 0L
        else spark.read.parquet(sel: _*).filter($"termId" === t).count()
      assert(inSel == total, s"term $t: selected files hold $inSel/$total blocks")
    }
    // a multi-term query still prunes to a small file subset
    val q = someTerms.take(3).toArray
    assert(searcher.postingsFilesFor(q).size <= 6)
  }

  test("prefix search == OR of the expanded terms (MultiTermQuery semantics)") {
    built
    // expansion: exactly the lexicon terms with the prefix, sorted
    val lexTerms = spark.read.parquet(cfg(indexDir).lexiconPath)
      .select($"term").as[String].collect()
    val p = "in" // 'in', 'int', 'include'... — multi-term on this corpus
    val expected = lexTerms.filter(_.startsWith(p)).sorted
    assert(expected.length >= 2, s"corpus has ${expected.length} '$p*' terms")
    assert(searcher.expandPrefix(p).toSeq == expected.toSeq)

    // scoring: identical (docIds AND scores) to querying the expansion
    val viaPrefix = searcher.searchPrefix(p, 10).toVector
    val viaTerms = searcher.searchWAND(expected.mkString(" "), 10).toVector
    assert(viaPrefix == viaTerms)
    assert(viaPrefix.nonEmpty)
    // and to the sequential reference scorer on the same expansion
    assert(viaPrefix == oracle.topK(expected.mkString(" "), 10))

    // the fold applies to the prefix (case), 1-char prefixes are legal
    assert(searcher.expandPrefix("IN").toSeq == expected.toSeq)
    assert(searcher.expandPrefix("i", maxExpand = 1 << 20).length
      >= expected.length)

    // no-match prefix -> empty result, not an error
    assert(searcher.searchPrefix("zzzz_no_such", 10).isEmpty)

    // guardrails: hard cap fails loudly; malformed prefixes rejected
    intercept[IllegalArgumentException](searcher.expandPrefix("i", maxExpand = 1))
    intercept[IllegalArgumentException](searcher.expandPrefix("a b"))
    intercept[IllegalArgumentException](searcher.expandPrefix(""))
  }

  test("boolean retrieval: +must/-not restrict membership, scores unchanged") {
    built
    def tokensOf(f: SourceFile): Set[String] =
      graft.analysis.CodeTokenizer.termFreqs(f.content)._1.keySet.toSet
    val byDoc = corpusLocal.sortBy(f => (f.repo, f.path, f.commit))
      .zipWithIndex.map { case (f, i) => i.toLong -> tokensOf(f) }.toMap
    val all = searcher.scoreAll("if return").collect()
      .map(sd => sd.docId -> sd.score).toMap

    // +if return: exactly the 'if'-containing matches, plain-query scores
    val mustHits = searcher.searchBoolean("+if return", byDoc.size + 10)
    assert(mustHits.map(_.docId).toSet ==
      all.keySet.filter(d => byDoc(d).contains("if")))
    mustHits.foreach(sd => assert(sd.score == all(sd.docId), s"doc ${sd.docId}"))

    // exclusion: 'hash'-containing docs vanish, survivors keep scores
    val notHits = searcher.searchBoolean("if return -hash", byDoc.size + 10)
    assert(notHits.map(_.docId).toSet ==
      all.keySet.filterNot(d => byDoc(d).contains("hash")))
    notHits.foreach(sd => assert(sd.score == all(sd.docId)))

    // degenerate forms
    assert(searcher.searchBoolean("+zzzz_absent if", 10).isEmpty)
    assert(searcher.searchBoolean("+if -if", 10).isEmpty)
    assert(searcher.searchBoolean("-if", 10).isEmpty)
    // no operators == the plain ranking
    assert(searcher.searchBoolean("if return", 10).toVector ==
      searcher.searchTAAT("if return", 10).toVector)
  }
}
