package perfbench

import java.util.SplittableRandom

import graft.analysis.CodeTokenizer
import graft.corpus.CorpusGen
import graft.model.SourceFile

/** One query of the serving mix. */
sealed trait Query { def kind: String; def text: String }
final case class Ranked(text: String) extends Query { def kind = "ranked" }
final case class Bool(text: String) extends Query { def kind = "boolean" }
final case class Prefix(text: String) extends Query { def kind = "prefix" }
final case class Phrase(text: String) extends Query { def kind = "phrase" }

/** Seeded inputs. Every generator draws from its own stream derived from
  * the run seed, so one seed always yields the same corpus, change batches
  * and query streams, and the engine only ever sees the generated data. */
object Gen {
  def stream(seed: Long, name: String): SplittableRandom =
    new SplittableRandom(CorpusGen.splitmix64(seed ^ name.hashCode.toLong * 0x9e3779b97f4a7c15L))

  /** Corpus seed for a run: CorpusGen is per-row seeded from it. */
  def corpusSeed(seed: Long): Long = CorpusGen.splitmix64(seed ^ 0x5eedc0deL)

  private val allKeywords: Vector[String] =
    CorpusGen.Keywords.values.flatten.toVector.distinct.sorted

  /** Keywords every code language shares: the heaviest terms. */
  private val heavy = Vector("if", "else", "return")

  /** Vocabulary term with the corpus' own Zipf weighting (u² · V). */
  private def zipfTerm(r: SplittableRandom): String = {
    val u = r.nextDouble()
    CorpusGen.identifier(math.min(CorpusGen.VocabSize - 1,
      (u * u * CorpusGen.VocabSize).toInt))
  }

  /** A term as the corpus draws them: ~35 % keywords, else Zipf ranks. */
  private def term(r: SplittableRandom): String =
    if (r.nextInt(100) < 35) allKeywords(r.nextInt(allKeywords.length))
    else zipfTerm(r)

  private def absent(r: SplittableRandom): String = f"zzq_absent_${r.nextInt(1000000)}%06d"

  /** Ranked query of a given shape: 0 = heavy hitters only, 1 = one
    * absent term among corpus terms, else corpus-weighted terms; `n`
    * terms (1-4). */
  def ranked(r: SplittableRandom, shape: Int, n: Int): Ranked = {
    val terms =
      if (shape == 0) Vector.fill(n)(heavy(r.nextInt(heavy.length)))
      else if (shape == 1) absent(r) +: Vector.fill(n - 1)(term(r))
      else Vector.fill(n)(term(r))
    Ranked(terms.mkString(" "))
  }

  /** 16 ranked queries with a fixed spread of shapes and lengths (two
    * heavy-only, two with an absent term, twelve plain; 1-4 terms each
    * four times), so the ranked mix is the same in every block. */
  def rankedBlock(r: SplittableRandom): Vector[Ranked] =
    (0 until 16).toVector.map(i => ranked(r, if (i < 2) 0 else if (i < 4) 1 else 2, 1 + i % 4))

  /** `+must [-not] [should]`: one or two must terms, an optional must-not
    * keyword and an optional should term. */
  def boolean(r: SplittableRandom): Bool = {
    val must = Vector.fill(1 + r.nextInt(2))(term(r)).map("+" + _)
    val not = if (r.nextBoolean()) Vector("-" + allKeywords(r.nextInt(allKeywords.length))) else Vector()
    val should = if (r.nextBoolean()) Vector(term(r)) else Vector()
    Bool((must ++ not ++ should).mkString(" "))
  }

  /** A prefix of a Zipf identifier's `root_root` stem, at least the first
    * root plus one character, so the expansion stays well under the
    * engine's rewrite cap. */
  def prefix(r: SplittableRandom): Prefix = {
    // single-root identifiers (the 26 lowest ranks) would expand to a
    // whole root's family; redraw until a two-root stem comes up
    var id = zipfTerm(r)
    while (!id.contains('_')) id = zipfTerm(r)
    val stem = id.split('_').take(2).mkString("_")
    val minLen = stem.indexOf('_') + 2
    Prefix(stem.take(minLen + r.nextInt(stem.length - minLen + 1)))
  }

  /** 80 % of phrases are 2–3 adjacent tokens of a sampled document, so
    * they match; the rest are adjacent corpus-weighted terms. */
  def phrase(r: SplittableRandom, corpus: IndexedSeq[SourceFile]): Phrase = {
    val len = 2 + r.nextInt(2)
    if (r.nextInt(100) < 80) {
      val toks = CodeTokenizer.tokenize(corpus(r.nextInt(corpus.length)).content)
      if (toks.length > len) {
        val at = r.nextInt(toks.length - len)
        return Phrase(toks.slice(at, at + len).mkString(" "))
      }
    }
    Phrase(Vector.fill(len)(term(r)).mkString(" "))
  }

  /** Mix block: 16 ranked, 2 boolean, 1 prefix, 1 phrase (80/10/5/5 %),
    * shuffled. Drawing whole blocks keeps every client's stream at the
    * full mix however few queries it gets through. */
  private def block(r: SplittableRandom, corpus: IndexedSeq[SourceFile]): Vector[Query] = {
    shuffle(r, rankedBlock(r) ++ Vector.fill(2)(boolean(r)) ++
      Vector(prefix(r), phrase(r, corpus)))
  }

  def shuffle[A](r: SplittableRandom, xs: Seq[A]): Vector[A] =
    xs.map(x => (r.nextLong(), x)).sortBy(_._1).map(_._2).toVector

  /** Endless query stream of one client over the whole mix. */
  def mixStream(seed: Long, client: Int, corpus: IndexedSeq[SourceFile]): Iterator[Query] = {
    val r = stream(seed, s"client-$client")
    Iterator.continually(block(r, corpus)).flatten
  }

  /** `blocks` x 16 ranked queries from a named stream. */
  def rankedSample(seed: Long, name: String, blocks: Int): Vector[Ranked] = {
    val r = stream(seed, name)
    Vector.fill(blocks)(rankedBlock(r)).flatten
  }
}
