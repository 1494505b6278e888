package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.Manifest
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexSchema, PositionalIndex,
  TableIndexer}
import graft.model.SourceFile
import graft.sources.TableOps

/** Every index structure is read with its declared schema
  * ([[IndexSchema]]), and under a declared schema a column a file lacks
  * reads as null without an error. So each declaration must equal, in
  * field names and data types, the schema Spark infers from the files
  * every index operation writes. The build's scratch (keymap, forward,
  * vocab) is deleted by its lexicon commit, so it is checked on a build
  * stopped just before that commit. */
class IndexSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** structure -> (declared schema, manifest record, record extra naming
    * its directory) */
  val structures: Map[String, (StructType, String, String)] = Map(
    "keymap" -> ((IndexSchema.keymap, "keymap", "dir")),
    "forward" -> ((IndexSchema.forward, "forward", "dir")),
    "docs" -> ((IndexSchema.docs, "docs", "dir")),
    "vocab" -> ((IndexSchema.vocab, "postings", "vocabDir")),
    "postings" -> ((IndexSchema.postings, "postings", "dir")),
    "lexicon" -> ((IndexSchema.lexicon, "lexicon", "dir")),
    "positions" -> ((IndexSchema.positions, "positions", "dir")),
    "tombstones" -> ((IndexSchema.tombstones, "tombstones", "dir")),
    "dfdelta" -> ((IndexSchema.dfdelta, "tombstones", "dfDir")))

  /** Field names and data types, with nullability dropped at every level. */
  def shape(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case a: ArrayType => ArrayType(shape(a.elementType))
    case other => other
  }

  val checked = scala.collection.mutable.Set.empty[String]

  /** Compare every structure the committed manifest at `dir` names — and
    * those of its appended segments' sub-indexes — with the schema Spark
    * infers, merged over all of the structure's files. */
  def assertDeclared(tag: String, dir: String): Unit = {
    val recs = new Manifest(dir).read()
    val at = IndexConfig(indexDir = dir).paths(recs)
    structures.foreach { case (name, (declared, stage, key)) =>
      recs.get(stage).flatMap(_.extra.get(key)).foreach { rel =>
        val path = at.path(rel)
        val inferred = spark.read.option("mergeSchema", "true")
          .parquet(path).schema
        assert(shape(declared) == shape(inferred),
          s"[$tag] $name at $path: declared ${declared.simpleString}, " +
            s"written ${inferred.simpleString}")
        checked += name
      }
    }
    recs.collect { case (k, r) if k.startsWith("append-") => r.extra("dir") }
      .foreach(seg => assertDeclared(s"$tag/$seg", at.path(seg)))
  }

  def files(ids: Range): Seq[SourceFile] =
    ids.map(i => CorpusGen.genFile(i.toLong, 42L))

  def cfg(dir: String) = IndexConfig(indexDir = dir, numShards = 4,
    heavyDfThreshold = 150, buildPartitions = 4)

  test("build, positions, append and IndexBuilder.compact write the " +
      "declared schemas") {
    val c = cfg(TestSpark.tmpDir("graft-schema-idx"))
    val (_, stopped) = FaultInjection.run(c.indexDir, (_, op, path) =>
        op == "createExclusive" && path == s"${c.indexDir}/commits/v5") {
      IndexBuilder.build(spark, files(0 until 200).toDS(), c, "base")
    }
    assert(stopped && new Manifest(c.indexDir).get("lexicon").isEmpty)
    assertDeclared("build-scratch", c.indexDir)
    IndexBuilder.build(spark, files(0 until 200).toDS(), c, "base")
    PositionalIndex.build(spark, files(0 until 200).toDS(), c, "base")
    assertDeclared("build", c.indexDir)
    IndexBuilder.append(spark, files(200 until 260).toDS(), c, "batch")
    PositionalIndex.append(spark, files(200 until 260).toDS(), c, "batch",
      baseDocId = 200L)
    assertDeclared("append", c.indexDir)
    IndexBuilder.compact(spark, c)
    assertDeclared("compact", c.indexDir)
  }

  test("TableIndexer refresh with deletes and compact write the declared " +
      "schemas") {
    val ops = new TableOps(spark, TestSpark.tmpDir("graft-schema-tables"))
    val a = files(0 until 240)
    ops.create("t", a.take(120).toDF().coalesce(1))
    ops.insert("t", a.drop(120).toDF().coalesce(1))
    val ti = new TableIndexer(spark, ops,
      cfg(TestSpark.tmpDir("graft-schema-tidx")))
    ti.create("t", positions = true)
    assertDeclared("create", ti.cfg.indexDir)
    ops.delete("t", col("path").isin(a.take(20).map(_.path): _*))
    ops.insert("t", files(240 until 280).toDF().coalesce(1))
    ti.refresh("t")
    assertDeclared("refresh", ti.cfg.indexDir)
    ti.compact("t")
    assertDeclared("table-compact", ti.cfg.indexDir)
  }

  test("every declared schema was compared with written files") {
    assert(checked.toSet == structures.keySet)
  }
}
