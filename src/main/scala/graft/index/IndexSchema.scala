package graft.index

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

import graft.model.{DocEntry, DocMapEntry, LexiconEntry, PostingBlockRow}

/** The on-disk schema of every index structure, declared once; every read
  * of an index structure passes its schema (`spark.read.schema(...)`).
  *
  * A parquet read without a schema makes Spark infer one, and inference
  * runs a Spark job per read, even over a single file. The builder fixes
  * each structure's layout, so nothing needs inferring — the reference
  * likewise declares each table's `catalog::Schema` once
  * (catalog/schema.h:35) and never inspects a table's files for it.
  *
  * Under a declared schema a column a file lacks reads as null rather than
  * failing, so IndexSchemaSpec pins each declaration to the schema Spark
  * infers from the files every index operation writes. An empty directory
  * reads as zero rows.
  */
object IndexSchema {
  private def of[T <: Product: scala.reflect.runtime.universe.TypeTag] =
    Encoders.product[T].schema

  /** Stage 0: docId per unique (repo, path, commit). */
  val keymap: StructType = of[DocMapEntry]

  /** Stage 1: per-doc metadata plus the doc's distinct terms and their tfs
    * (parallel arrays). */
  val forward: StructType = of[DocEntry]
    .add("terms", ArrayType(StringType))
    .add("tfs", ArrayType(IntegerType, containsNull = false))

  /** Stage 2: per-doc metadata plus the doc's stored shard. */
  val docs: StructType = of[DocEntry].add("shard", IntegerType, nullable = false)

  /** Stage 3: dense termId per term, with the df at assignment time. */
  val vocab: StructType = StructType(Seq(
    StructField("termId", IntegerType, nullable = false),
    StructField("term", StringType),
    StructField("df", LongType, nullable = false)))

  val postings: StructType = of[PostingBlockRow]

  val lexicon: StructType = of[LexiconEntry]

  val positions: StructType = of[PosPostingRow]

  /** Deleted docIds (TableIndexer.refresh). */
  val tombstones: StructType =
    StructType(Seq(StructField("docId", LongType, nullable = false)))

  /** Per-term df of the deleted docs (TableIndexer.refresh). */
  val dfdelta: StructType = StructType(Seq(
    StructField("termId", IntegerType, nullable = false),
    StructField("delta", LongType, nullable = false)))
}
