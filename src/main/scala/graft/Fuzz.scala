package graft

import java.nio.file.{Files, Paths}

import graft.sql.{FuzzGen, SqlEngine}

/** Differential-fuzzer dump: generate FuzzGen's seeded query pairs, run
  * each dialect query through the engine, and write results + oracle SQL
  * + the deterministic tables for `fuzz.py` to replay in DuckDB — the
  * same protocol as Verify/check.py, over generated queries instead of
  * the hand-written gate.
  *
  * Usage: `runMain graft.Fuzz <outDir> [nQueries] [seed] [rows1]`
  * (defaults 170 queries, seed 1, ~100-row tables; rows1 > 0 pins the
  * BIG-tier table size — see FuzzGen.tables). Engine-side failures are recorded in
  * `failures.txt` and fail the run loudly at the end — a fuzz query that
  * cannot EXECUTE is as much a bug as a wrong answer.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = if (args.length > 1) args(1).toInt else 170
    val seed = if (args.length > 2) args(2).toLong else 1L
    val rows1 = if (args.length > 3) args(3).toInt else 0
    val spark = Sessions.local(Sessions.cpus(4))
    new java.io.File(outDir).mkdirs()

    val (t1, t2) = FuzzGen.tables(spark, seed, rows1)
    t1.coalesce(1).write.mode("overwrite").parquet(s"$outDir/tables/t1")
    t2.coalesce(1).write.mode("overwrite").parquet(s"$outDir/tables/t2")

    val engine = new SqlEngine(spark)
    val failures = Seq.newBuilder[String]
    val oracle = Seq.newBuilder[(String, String)]
    val hashes = Seq.newBuilder[(String, String)]
    FuzzGen.queries(seed, n, rows1).foreach { fq =>
      try {
        val df = engine.batch(fq.dialect + ";")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${fq.name}")
        hashes += fq.name -> FuzzGen.resultHash(df)
        oracle += fq.name -> fq.oracle
      } catch {
        case e: Throwable =>
          failures += s"${fq.name}: ${e.getMessage}\n  dialect: ${fq.dialect}"
          System.err.println(s"[fuzz] ${fq.name} FAILED: ${e.getMessage}")
      }
    }

    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle.result()
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/fuzz_sql.json"), json)
    // engine-side canonical hashes: after a green fuzz.py run, commit
    // this file as the FuzzSpec pin set (DuckDB-certified results)
    Files.writeString(Paths.get(s"$outDir/hashes.json"), hashes.result()
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

    val fails = failures.result()
    Files.writeString(Paths.get(s"$outDir/failures.txt"), fails.mkString("\n"))
    println(s"[fuzz] ${oracle.result().size} ok, ${fails.size} failed " +
      s"(seed=$seed, n=$n)")
    spark.stop()
    if (fails.nonEmpty) sys.exit(1)
  }
}
