package graft

import java.nio.file.{Files, Path, Paths}

import scala.sys.process._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Inputs generated at test time by the benchmark's own generator
  * (`perfbench/gen.py`, imported unchanged): ESCO-dialect CSVs in the
  * eight-file layout, multiline cells and the Q1/Q2/S4 quirks planted,
  * with `expected.json`'s table counts (~0.1 s at scale 0.1); and a
  * document corpus with planted duplicates, short, low-quality and
  * non-English documents. Ingest tests run on these wherever the real
  * snapshot is absent. */
object GeneratedInputs {

  // gen.<fn>(dir, *args) into a fresh temp dir
  private def gen(fn: String, args: String*): Path = {
    val dir = Files.createTempDirectory(s"graft-gen-$fn-")
    val script = "import sys; sys.path.insert(0, 'perfbench'); import gen; " +
      s"gen.$fn(sys.argv[1], *map(eval, sys.argv[2:]))"
    val exit = (Seq("python3", "-c", script, dir.toString) ++ args).!
    require(exit == 0, s"perfbench/gen.py $fn failed (exit $exit)")
    dir
  }

  /** ESCO CSVs of `seed` at `scale` in a fresh temp dir. */
  def esco(seed: Int, scale: Double = 0.1): String =
    gen("gen_esco", seed.toString, scale.toString).toString

  /** One generated ESCO snapshot per test JVM (seed 3, scale 0.1). */
  lazy val escoDir: String = esco(3)

  /** `expected.json`'s `counts` for [[escoDir]]: table name → rows. */
  lazy val counts: Map[String, Long] = {
    val row = SparkTestSession.spark.read.option("multiLine", "true")
      .json(s"$escoDir/expected.json").select(col("counts.*")).head()
    row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap
  }

  /** Skill groups among [[escoDir]]'s `skills` rows: every skill is
    * listed in `skill_uris.txt`, so the rest are groups. */
  lazy val skillGroups: Long = counts("skills") -
    Files.readAllLines(Paths.get(s"$escoDir/skill_uris.txt")).size

  /** A corpus of `docs` documents (`doc_id`, `text`, `source`). */
  def corpus(docs: Int, seed: Int = 5): DataFrame = {
    val dir = gen("gen_corpus", seed.toString, docs.toString)
    SparkTestSession.spark.read
      .schema("doc_id LONG, text STRING, source STRING")
      .json(s"$dir/docs.jsonl")
  }
}
