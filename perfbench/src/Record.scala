package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{BenchHarness, SparkEntry}

/** Records the expected digest of each ledger row.
  *
  * First runs `graft.Verify` over the rows, which writes each result as
  * parquet plus the oracle SQL, in the layout `tools/check_oracle.py`
  * checks. Then digests each row twice: live, as the benchmark does, and
  * from the parquet Verify wrote. The two must agree, so a digest is only
  * printed for an output the oracle check can be run on. Prints
  * `name<TAB>digest` lines for `expected_digests.tsv`.
  */
object Record {
  def run(a: Args): Unit = {
    val out = Paths.get(a.record)
    graft.Verify.main(Array(a.sfDir, out.toString, a.rows.mkString(",")))
    val spark: SparkSession = BenchHarness.session("graftbench-record")
    var bad = 0
    a.rows.foreach { name =>
      val live = Digest.of(SparkEntry.queries(name)(spark, a.sfDir))
      val dir = out.resolve(name)
      val stored = if (Files.exists(dir)) Digest.of(spark.read.parquet(dir.toString)) else "missing"
      if (stored != live) {
        bad += 1
        System.err.println(s"[graftbench] $name: live digest $live, verify output $stored")
      } else println(s"$name\t$live")
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
