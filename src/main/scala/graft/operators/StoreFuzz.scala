package graft.operators

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.PipelineFunctions._
import graft.queries.DedupQueries

/** SIGNATURE-STORE schedule fuzzer: the generative differential layer for
  * the persisted incremental-dedup state (r12 VERDICT called the view
  * machinery the last hand-pinned subsystem; after ViewFuzz closed it,
  * [[SignatureStore]] — manifest generations, idempotent append,
  * threshold compaction, graced vacuum, crash orphans, range-clustered
  * union reads — became the largest custom body certified only by
  * hand-written SignatureStoreSpec cases).
  *
  * Each scenario draws a random corpus with PLANTED near-duplicates
  * (exact copies and 1–2-token mutations, plus degenerate sub-3-token
  * docs), partitions it into random crawl batches, and replays a random
  * maintenance schedule: ingest (random auto-compaction threshold),
  * idempotent replays of committed batchIds, explicit compactions,
  * zero-grace vacuums at quiesced points, and fabricated crash-orphan
  * leaf dirs. Two referees:
  *
  *   1. DIFFERENTIAL: before each batch lands, the batch is probed
  *      against the store ([[DedupQueries.incrementalDedupStored]] — the
  *      gate query's exact operator) and compared row-for-row against a
  *      STORE-FREE recompute over the union of everything ingested so
  *      far (fresh signatures both sides, plain joins, no manifest, no
  *      persisted leaves, no broadcast asymmetry). The signature MATH
  *      (sigWithBands/jaccard) is deliberately shared — it defines the
  *      semantics; what the twin certifies is the STORE: that whatever
  *      the manifest/compaction/vacuum history did, the store serves
  *      exactly the union of committed batches' signatures.
  *   2. INVARIANTS: a replayed append returns false and changes nothing
  *      observable; compaction folds to one leaf, preserves the batchId
  *      set and every probe result; vacuum(0) after a fold deletes the
  *      superseded leaves and changes no probe result; an orphan data
  *      dir (crash before manifest rename) is invisible to readers and
  *      reaped by the next vacuum.
  *
  * Non-vacuity is structural: the probe set always contains an EXACT
  * copy of a store doc, so the final probe must find at least one
  * duplicate (a schedule that never exercises the jaccard-verify path
  * cannot go green), and every scenario's tallies (compactions, replays,
  * vacuum deletions) are reported so an idle code path is visible.
  *
  * Reference contract: the store is this engine's materialized-state
  * answer to the reference's served view state
  * (hstream/src/HStream/Server/Core/View.hs:166-254) applied to the
  * pipeline's most expensive operator; the equality asserted here is
  * the same materialization-independence ViewFuzz asserts for views.
  *
  * In-CI: StoreFuzzSpec (pinned seeds). Offline roaming:
  * `sbt "runMain graft.operators.StoreFuzz <seedCsv> [scenariosPerSeed]"`.
  */
object StoreFuzz {

  final case class Report(name: String, ok: Boolean, detail: String,
                          compactions: Int = 0, replays: Int = 0,
                          vacuumed: Int = 0, orphans: Int = 0,
                          dupsFound: Int = 0)

  private final case class Doc(id: Long, text: String)

  private final case class Scenario(
      name: String,
      batches: Vector[Vector[Doc]],   // ingest order
      probe: Vector[Doc],             // fixed probe set (off-corpus ids)
      maxLeaves: Vector[Int],         // per-ingest auto-compaction knob
      replayAfter: Set[Int],          // replay a random committed batch
      compactAfter: Set[Int],         // explicit compact()
      vacuumAfter: Set[Int],          // vacuum(graceMs = 0)
      orphanAfter: Set[Int])          // fabricate a crash orphan

  // the audited two-half MurmurHash mix (r12 ADVICE a: near-linear seeds
  // repeat java.util.Random's first bounded draws verbatim across cases)
  private def mix(seed: Long, i: Int): Random = {
    val m1 = scala.util.hashing.MurmurHash3.productHash((seed, i, 31))
    val m2 = scala.util.hashing.MurmurHash3.productHash((i, seed, 0x9e3779b9L))
    new Random((m1.toLong << 32) | (m2.toLong & 0xffffffffL))
  }

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  private def genScenario(seed: Long, i: Int): Scenario = {
    val r = mix(seed, i)
    val vocab = Vector.tabulate(40)(j => f"w$j%02d")
    var nextId = 0L
    def doc(tokens: Seq[String]): Doc = {
      val d = Doc(nextId, tokens.mkString(" ")); nextId += 1; d
    }
    val bases = Vector.fill(20 + r.nextInt(30)) {
      doc(Vector.fill(6 + r.nextInt(13))(pick(r, vocab)))
    }
    // planted near-dups: exact copies and 1–2-token mutations of bases
    val variants = bases.flatMap { b =>
      if (r.nextInt(5) < 2) {
        val toks = b.text.split(" ").toVector
        Vector.fill(1 + r.nextInt(2)) {
          val nMut = r.nextInt(3) // 0 = exact duplicate
          val mutated = (0 until nMut).foldLeft(toks) { (ts, _) =>
            ts.updated(r.nextInt(ts.size), pick(r, vocab))
          }
          doc(mutated)
        }
      } else Vector.empty
    }
    // degenerate docs: < 3 tokens → empty shingle set, never banded
    val degenerate = Vector.fill(2 + r.nextInt(3)) {
      doc(Vector.fill(r.nextInt(3))(pick(r, vocab)))
    }
    val corpus = r.shuffle(bases ++ variants ++ degenerate)
    val nBatches = 2 + r.nextInt(4)
    val batches = Vector.tabulate(nBatches)(b =>
      corpus.zipWithIndex.collect { case (d, j) if j % nBatches == b => d })
    // fixed probe set, off-corpus ids: mutated copies of corpus docs plus
    // ALWAYS one exact copy (structural non-vacuity: the final probe must
    // find at least one duplicate)
    val probe = {
      val picks = Vector.fill(3 + r.nextInt(4))(pick(r, bases))
      val mutatedProbes = picks.map { p =>
        val toks = p.text.split(" ").toVector
        val mutated =
          if (r.nextBoolean()) toks.updated(r.nextInt(toks.size), pick(r, vocab))
          else toks
        mutated
      }
      val exact = pick(r, bases).text.split(" ").toVector
      (mutatedProbes :+ exact).zipWithIndex.map { case (ts, j) =>
        Doc(100000L + j, ts.mkString(" "))
      }
    }
    Scenario(
      name = f"sto_s${seed}_$i%02d",
      batches = batches,
      probe = probe,
      maxLeaves = Vector.fill(nBatches)(1 + r.nextInt(3)),
      replayAfter = (0 until nBatches).filter(_ => r.nextInt(3) == 0).toSet,
      compactAfter = (0 until nBatches).filter(_ => r.nextInt(3) == 0).toSet,
      vacuumAfter = (0 until nBatches).filter(_ => r.nextInt(4) == 0).toSet,
      orphanAfter = (0 until nBatches).filter(_ => r.nextInt(4) == 0).toSet)
  }

  private def toDf(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  /** Store-free twin of [[DedupQueries.incrementalDedupStored]]: fresh
    * signatures on BOTH sides, plain (unbroadcast, unpersisted) joins,
    * nothing read from disk. Shares only the signature math. */
  private def referee(spark: SparkSession, newDocs: DataFrame,
                      oldDocs: DataFrame): DataFrame = {
    import spark.implicits._
    val newSig = DedupQueries.sigWithBands(newDocs.select($"doc_id", $"text"))
      .select($"doc_id", $"hs", $"bands")
    val oldSig = DedupQueries.sigWithBands(oldDocs.select($"doc_id", $"text"))
      .select($"doc_id", $"hs", $"bands")
    def banded(sig: DataFrame) = sig.filter(size($"hs") > 0)
      .select($"doc_id", explode($"bands").as("band"))
    val cand = banded(newSig).as("a")
      .join(banded(oldSig).as("b"), $"a.band" === $"b.band")
      .select($"a.doc_id".as("new_id"), $"b.doc_id".as("old_id"))
      .distinct()
    val verified = cand
      .join(newSig.select($"doc_id", $"hs").as("h1"), $"new_id" === $"h1.doc_id")
      .join(oldSig.select($"doc_id", $"hs").as("h2"), $"old_id" === $"h2.doc_id")
      .select($"new_id", $"old_id",
        round(jaccard($"h1.hs", $"h2.hs"), 6).as("jac"))
      .filter($"jac" >= 0.5)
    val bj = verified.groupBy($"new_id")
      .agg(min_by(struct($"old_id", $"jac"), $"old_id").as("m"))
      .select($"new_id", $"m.old_id".as("dup_of"), $"m.jac".as("jac"))
    newDocs.select($"doc_id")
      .join(bj, $"doc_id" === $"new_id", "left")
      .select($"doc_id", $"dup_of", $"jac", $"dup_of".isNull.as("keep"))
  }

  private def hashOf(df: DataFrame): String = graft.sql.FuzzGen.resultHash(df)

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(deleteRec)
    f.delete(); ()
  }

  /** Run one scenario; returns the first violated check or ok=true with
    * the schedule's tallies. */
  def runOne(spark: SparkSession, sc: Scenario): Report = {
    val dir = Files.createTempDirectory("graft_storefuzz_").toString
    var compactions = 0; var replays = 0; var vacuumed = 0; var orphans = 0
    var dupsFound = 0
    try {
      val ingested = scala.collection.mutable.ArrayBuffer[Int]()
      def storeDocs: Vector[Doc] = ingested.flatMap(sc.batches).toVector
      def probeHash(): String = hashOf(
        DedupQueries.incrementalDedupStored(spark, dir, toDf(spark, sc.probe)))
      def fail(step: String, detail: String): Report =
        Report(sc.name, ok = false, s"$step: $detail",
          compactions, replays, vacuumed, orphans, dupsFound)

      for (b <- sc.batches.indices) {
        // 1. DIFFERENTIAL: probe the arriving batch against the store of
        // everything committed so far vs the store-free recompute
        if (ingested.nonEmpty) {
          val got = DedupQueries.incrementalDedupStored(
            spark, dir, toDf(spark, sc.batches(b)))
          val want = referee(spark, toDf(spark, sc.batches(b)),
            toDf(spark, storeDocs))
          val (hg, hw) = (hashOf(got), hashOf(want))
          if (hg != hw) {
            val g = got.collect().map(_.toString).sorted.mkString("; ")
            val w = want.collect().map(_.toString).sorted.mkString("; ")
            return fail(s"probe b$b", s"store=$g\n  twin=$w")
          }
          dupsFound += got.filter(!col("keep")).count().toInt
        }
        // 2. ingest (append + auto-compaction at a random threshold)
        val before = SignatureStore.committed(spark, dir)
        if (!SignatureStore.ingest(spark, dir, s"batch$b",
            DedupQueries.sigWithBands(toDf(spark, sc.batches(b)))
              .select(col("doc_id"), col("hs"), col("bands")),
            maxLeaves = sc.maxLeaves(b)))
          return fail(s"ingest b$b", "fresh batchId reported already-committed")
        ingested += b
        val after = SignatureStore.committed(spark, dir)
        if (after.keySet != before.keySet + s"batch$b")
          return fail(s"ingest b$b",
            s"manifest keys ${after.keySet} != ${before.keySet + s"batch$b"}")
        // post-ingest: either no fold happened (≤ maxLeaves leaves) or the
        // auto-compaction folded everything to exactly one
        if (after.values.toSeq.distinct.size > sc.maxLeaves(b))
          return fail(s"ingest b$b",
            s"${after.values.toSeq.distinct.size} leaves exceed " +
              s"maxLeaves=${sc.maxLeaves(b)} after auto-compaction")

        // 3. idempotent replay of a random committed batch
        if (sc.replayAfter(b)) {
          val h0 = probeHash()
          val replayed = pick(mix(b.toLong, b), ingested.toSeq)
          val com0 = SignatureStore.committed(spark, dir)
          if (SignatureStore.ingest(spark, dir, s"batch$replayed",
              DedupQueries.sigWithBands(toDf(spark, sc.batches(replayed)))
                .select(col("doc_id"), col("hs"), col("bands"))))
            return fail(s"replay b$replayed", "returned true (double-commit)")
          if (SignatureStore.committed(spark, dir) != com0)
            return fail(s"replay b$replayed", "manifest changed")
          if (probeHash() != h0)
            return fail(s"replay b$replayed", "probe result changed")
          replays += 1
        }

        // 4. crash orphan: a data dir with NO manifest entry must be
        // invisible to readers and reaped by the next vacuum
        if (sc.orphanAfter(b)) {
          val h0 = probeHash()
          toDf(spark, sc.batches(b)).limit(3)
            .select(col("doc_id"), lit("0_x_y").as("band"))
            .write.mode("overwrite").parquet(s"$dir/bORPHAN$b-dead/bands")
          if (SignatureStore.committed(spark, dir).values.exists(_.contains("ORPHAN")))
            return fail(s"orphan b$b", "orphan leaf visible in manifest")
          if (probeHash() != h0)
            return fail(s"orphan b$b", "orphan leaf changed a probe result")
          orphans += 1
        }

        // 5. explicit compaction: folds to one leaf, preserves batchIds
        // and every probe result
        if (sc.compactAfter(b)) {
          val h0 = probeHash()
          val com0 = SignatureStore.committed(spark, dir)
          val folded = SignatureStore.compact(spark, dir)
          if (com0.values.toSeq.distinct.size > 1 && folded == 0)
            return fail(s"compact b$b", "multi-leaf store reported nothing to fold")
          val com1 = SignatureStore.committed(spark, dir)
          if (com1.keySet != com0.keySet)
            return fail(s"compact b$b", s"batchIds ${com1.keySet} != ${com0.keySet}")
          if (folded > 0 && com1.values.toSeq.distinct.size != 1)
            return fail(s"compact b$b", "post-fold store has >1 distinct leaf")
          if (probeHash() != h0)
            return fail(s"compact b$b", "probe result changed across fold")
          if (folded > 0) compactions += 1
        }

        // 6. zero-grace vacuum at a quiesced point: reaps orphans and
        // superseded leaves, changes nothing observable
        if (sc.vacuumAfter(b)) {
          val h0 = probeHash()
          val live = SignatureStore.committed(spark, dir).values.toSet
          val allDirs = new java.io.File(dir).listFiles()
            .filter(_.isDirectory).map(_.getName).toSet
          val deadBefore = (allDirs -- live).size
          val deleted = SignatureStore.vacuum(spark, dir, graceMs = 0L)
          if (deleted != deadBefore)
            return fail(s"vacuum b$b",
              s"deleted $deleted of $deadBefore unreferenced dirs")
          if (probeHash() != h0)
            return fail(s"vacuum b$b", "probe result changed")
          vacuumed += deleted
        }
      }

      // 7. final probe vs the full store; the exact-copy probe doc makes
      // at least one duplicate verdict structural
      val got = DedupQueries.incrementalDedupStored(spark, dir, toDf(spark, sc.probe))
      val want = referee(spark, toDf(spark, sc.probe), toDf(spark, storeDocs))
      if (hashOf(got) != hashOf(want)) {
        val g = got.collect().map(_.toString).sorted.mkString("; ")
        val w = want.collect().map(_.toString).sorted.mkString("; ")
        return fail("final probe", s"store=$g\n  twin=$w")
      }
      val finalDups = got.filter(!col("keep")).count().toInt
      if (finalDups < 1)
        return fail("final probe",
          "exact-copy probe doc found no duplicate (verify path idle)")
      dupsFound += finalDups
      Report(sc.name, ok = true, "", compactions, replays, vacuumed,
        orphans, dupsFound)
    } catch {
      // NonFatal, NOT Throwable: the in-loop `return fail(...)` sites sit
      // inside the for-comprehension's foreach closure, so they unwind
      // through here as ControlThrowable — a Throwable catch would swallow
      // them and replace the detailed diff with "EXEC NonLocalReturnControl"
      case scala.util.control.NonFatal(e) =>
        Report(sc.name, ok = false,
          s"EXEC ${e.getClass.getSimpleName}: ${e.getMessage}",
          compactions, replays, vacuumed, orphans, dupsFound)
    } finally deleteRec(new java.io.File(dir))
  }

  def run(spark: SparkSession, seed: Long, n: Int): Seq[Report] =
    (0 until n).map(i => runOne(spark, genScenario(seed, i)))

  /** Offline roaming: `runMain graft.operators.StoreFuzz <seedCsv> [n]`. */
  def main(args: Array[String]): Unit = {
    val seeds = args.headOption.getOrElse("1").split(",").map(_.trim.toLong)
    val n = if (args.length > 1) args(1).toInt else 8
    val spark = Sessions.local(Sessions.cpus(8))
    var ok = 0; var fail = 0
    var comp = 0; var rep = 0; var vac = 0; var orph = 0; var dups = 0
    seeds.foreach { s =>
      run(spark, s, n).foreach { r =>
        if (r.ok) {
          ok += 1; comp += r.compactions; rep += r.replays
          vac += r.vacuumed; orph += r.orphans; dups += r.dupsFound
          System.err.println(s"[sto] ok   ${r.name} comp=${r.compactions}" +
            s" rep=${r.replays} vac=${r.vacuumed} orph=${r.orphans}" +
            s" dups=${r.dupsFound}")
        } else { fail += 1; System.err.println(s"[sto] FAIL ${r.name}: ${r.detail}") }
      }
    }
    println(s"""{"metric":"storefuzz","ok":$ok,"fail":$fail,""" +
      s""""compactions":$comp,"replays":$rep,"vacuumed":$vac,""" +
      s""""orphans":$orph,"dups":$dups,"seeds":"${seeds.mkString(",")}"}""")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
