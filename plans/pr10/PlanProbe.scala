package graft.examples

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** Prints `explain("formatted")` of the stored-index dedup screen
  * (`Dedup.incrementalMinHashCandidatesPrebuilt`, default gate) on a
  * perfbench `curation_ingest` input, whose corpus is copy-heavy
  * enough to take the collapsed route.
  *
  * Not part of the build: copy it into src/main/scala/graft/examples/
  * of a scratch checkout and run
  *
  *   sbt "runMain graft.examples.PlanProbe <input dir> <index dir>"
  *
  * where the input dir comes from
  * `python3 -c "import sys; sys.path.insert(0, 'perfbench'); import gen;
  * gen.generate('curation_ingest', 1, '<input dir>')"`.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val Array(in, indexDir) = args
    System.setProperty("graft.index.dir", indexDir)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docsPath = s"$in/docs"
    val docs = spark.read.parquet(docsPath)
    val newDocs = spark.read.parquet(s"$in/batches/001/docs.parquet")
    val out = Dedup.incrementalMinHashCandidatesPrebuilt(docs, docsPath,
      newDocs, variant = "corpus")
    println("PLAN_BEGIN")
    out.explain("formatted")
    println("PLAN_END")
    println(s"ROWS ${out.count()}")
    spark.stop()
  }
}
