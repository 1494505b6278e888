package perfbench

import scala.collection.mutable

import graft.analysis.CodeTokenizer
import graft.index.IndexBuilder
import graft.model.{BM25Params, ScoredDoc, SourceFile}
import graft.query.{SequentialOracle, Searcher}

/** Expected results for one corpus snapshot, computed without Spark.
  *
  * Ranked queries come straight from [[SequentialOracle.topK]]. Boolean and
  * prefix hits are re-scored with [[SequentialOracle.score]] over a
  * candidate set built here from the documents' own tokens, and phrase
  * hits are counted on those tokens and scored with the engine's published
  * BM25 formulas ([[IndexBuilder.idf]], [[IndexBuilder.tfNorm]]).
  * Reference docIds are lexicographic ranks of (repo, path, commit), which
  * is what a from-scratch build assigns. */
final class Reference(files: Seq[SourceFile]) {
  val oracle = new SequentialOracle(files)
  private val sorted = files.sortBy(f => (f.repo, f.path, f.commit)).toVector
  val numDocs: Int = sorted.length
  val keyToId: Map[(String, String, String), Long] =
    sorted.iterator.zipWithIndex.map { case (f, i) => (f.repo, f.path, f.commit) -> i.toLong }.toMap

  private val dict = mutable.HashMap.empty[String, Int]
  private val tokens: Array[Array[Int]] = sorted.map { f =>
    CodeTokenizer.tokenize(f.content).iterator
      .map(t => dict.getOrElseUpdate(t, dict.size)).toArray
  }.toArray
  /** term id -> ascending reference docIds of the documents holding it */
  private val postings: Array[Array[Int]] = {
    val b = Array.fill(dict.size)(mutable.ArrayBuilder.make[Int])
    tokens.indices.foreach(d => tokens(d).distinct.foreach(t => b(t) += d))
    b.map(_.result())
  }
  private val terms: Array[String] = {
    val a = new Array[String](dict.size); dict.foreach { case (t, i) => a(i) = t }; a
  }

  private def docsOf(t: String): Set[Int] =
    dict.get(t).map(i => postings(i).toSet).getOrElse(Set.empty)

  private def top(hits: Iterable[ScoredDoc], k: Int): Vector[ScoredDoc] =
    hits.toVector.sortBy(sd => (-sd.score, sd.docId)).take(k)

  def ranked(q: String, k: Int): Vector[ScoredDoc] = oracle.topK(q, k)

  def boolean(q: String, k: Int): Vector[ScoredDoc] = {
    val (must, should, not) = Searcher.parseBoolean(q)
    if (must.exists(not.contains) || !must.forall(dict.contains)) return Vector.empty
    val scoring = (must ++ should.filterNot(not.contains)).distinct.sorted
    if (scoring.isEmpty) return Vector.empty
    val base =
      if (must.nonEmpty) must.map(docsOf).reduce(_ intersect _)
      else scoring.map(docsOf).reduce(_ union _)
    val cands = base -- not.flatMap(docsOf)
    val qs = scoring.mkString(" ")
    top(cands.map(d => ScoredDoc(d.toLong, oracle.score(qs, d.toLong))), k)
  }

  def prefix(p: String, k: Int): Vector[ScoredDoc] = {
    val pre = CodeTokenizer.foldPrefix(p).get
    val expanded = terms.filter(_.startsWith(pre)).sorted
    if (expanded.isEmpty) Vector.empty else oracle.topK(expanded.mkString(" "), k)
  }

  def phrase(q: String, k: Int): Vector[ScoredDoc] = {
    val toks = CodeTokenizer.tokenize(q).toArray
    if (toks.isEmpty || !toks.forall(dict.contains)) return Vector.empty
    val ids = toks.map(dict)
    val cands = ids.distinct.map(i => postings(i).toSet).reduce(_ intersect _)
    val tfs = cands.iterator.map { d =>
      val ts = tokens(d)
      var tf = 0; var p = 0
      while (p + ids.length <= ts.length) {
        var j = 0
        while (j < ids.length && ts(p + j) == ids(j)) j += 1
        if (j == ids.length) tf += 1
        p += 1
      }
      d -> tf
    }.filter(_._2 > 0).toVector
    if (tfs.isEmpty) return Vector.empty
    val p = BM25Params()
    val w = IndexBuilder.idf(numDocs.toLong, tfs.length.toLong) * (p.k1 + 1.0)
    top(tfs.map { case (d, tf) =>
      ScoredDoc(d.toLong, w * IndexBuilder.tfNorm(tf, tokens(d).length, oracle.avgDl, p))
    }, k)
  }

  def expected(q: Query, k: Int): Vector[ScoredDoc] = q match {
    case Ranked(t) => ranked(t, k)
    case Bool(t) => boolean(t, k)
    case Prefix(t) => prefix(t, k)
    case Phrase(t) => phrase(t, k)
  }
}

/** Compares engine results with expectations and keeps the tally behind
  * `attempted` / `failed`. */
final class Checker {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  /** Same docIds and bit-identical scores, in order. */
  def sameExact(got: Seq[ScoredDoc], want: Seq[ScoredDoc]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.docId == w.docId && bits(g.score) == bits(w.score)
    }

  /** For an index whose docIds are not lexicographic ranks (after
    * refreshes): `got` holds reference docIds mapped through the document
    * keys. The score sequence must be bit-identical and every returned
    * document must truly have its score, so documents tied on score may
    * come in either docId order. */
  def sameUpToTies(got: Seq[ScoredDoc], want: Seq[ScoredDoc],
      rescore: Long => Double): Boolean =
    got.length == want.length &&
      got.map(_.docId).distinct.length == got.length &&
      got.zip(want).forall { case (g, w) =>
        bits(g.score) == bits(w.score) && g.docId >= 0 &&
          bits(rescore(g.docId)) == bits(g.score)
      }

  def record(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.length < 20) failures += what }
  }

  /** A failed operation (exception) counts against `failed` as well. */
  def recordError(what: String, e: Throwable): Unit =
    record(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}", ok = false)

  /** The checker's own self-test on a real, already-verified result: a
    * fresh tally fed three perturbed expectations (lowest score bit
    * flipped, first docId shifted, flipped again under the tie-tolerant
    * comparison) must count three failures out of three. */
  def selfTest(got: Seq[ScoredDoc]): Boolean = {
    if (got.isEmpty) return false
    val h = got.head
    val flipped = h.copy(score = java.lang.Double.longBitsToDouble(bits(h.score) ^ 1L)) +: got.tail
    val moved = h.copy(docId = h.docId + 1) +: got.tail
    val probe = new Checker
    probe.record("flipped", sameExact(got, flipped))
    probe.record("moved", sameExact(got, moved))
    probe.record("flipped-ties", sameUpToTies(got, flipped, _ => h.score))
    probe.attempted == 3 && probe.failed == 3
  }

  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}
