package choirbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CuratePipeline
import graft.CuratePipeline.StageCounts
import graft.io.TableStore

/** `curate_corpus`: repeated `CuratePipeline.run` on a seeded corpus with
  * injected exact duplicates, near duplicates and eval leaks, each run into
  * a fresh store. The stage counts of one seed must repeat exactly, the
  * near-dup stage must remove at least half the injected near duplicates
  * and decontamination must remove something.
  *
  * `cc_rounds` is reported but not required to be positive: near-dup graphs
  * up to 2^20 edges are resolved by Dedup's in-memory union-find, which
  * reports 0 distributed rounds by design. */
final class CurateCorpus(ctx: Ctx) extends Workload(ctx) {
  // 400 base documents (plus 12% injected): a warm run takes about nine
  // seconds on four local cores, most of it per-job overhead of the ~57
  // jobs a run submits (672 documents took 9.6 s, 1,680 took 12.8 s), so a
  // larger corpus costs run time for little extra signal.
  private val Base = 400
  private val path = ctx.path("corpus.parquet")
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var inputBytes = 0L
  private var reference: StageCounts = _
  private var runs = 0

  def setup(spark: SparkSession, rep: Int): Unit = {
    corpus = CorpusGen.generate(Base, exactShare = 0.04, nearShare = 0.04, leakShare = 0.04,
      seed = ctx.args.seed)
    import spark.implicits._
    corpus.docs.toDF().write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    inputBytes = Stats.dirBytes(path)._1
    if (rep == 0)
      ctx.say(f"corpus: ${corpus.docs.size} docs; injected shares: exact ${corpus.share(corpus.exact)}%.4f " +
        f"(measured repeated-text share ${corpus.measuredExactShare}%.4f), near ${corpus.share(corpus.near)}%.4f, " +
        f"eval-leak ${corpus.share(corpus.leaks)}%.4f")
  }

  def teardown(): Unit = Stats.deleteTree(ctx.path("stores"))

  private def check(c: StageCounts): Seq[String] = {
    if (reference == null) reference = c
    Seq(
      if (c != reference) Some(s"stage counts $c differ from the first run's $reference") else None,
      if (c.input != corpus.docs.size) Some(s"input ${c.input}, want ${corpus.docs.size}") else None,
      if (2 * (c.gated - c.deduped) < corpus.near)
        Some(s"near-dup dedup removed ${c.gated - c.deduped} of ${corpus.near} injected near duplicates")
      else None,
      if (c.decontaminated >= c.deduped) Some("decontamination removed nothing") else None,
      if (c.written != c.decontaminated) Some(s"wrote ${c.written} of ${c.decontaminated}") else None
    ).flatten
  }

  private def op(spark: SparkSession, t: Tracer, i: Int): (Double, StageCounts, Long) = {
    runs += 1
    val root = ctx.path(s"stores/run-$runs")
    t.attach()
    t.beginOp(i)
    val t0 = System.nanoTime()
    val c = t.span("curate.run")(CuratePipeline.run(spark, docs, new TableStore(spark, root)))
    val dt = (System.nanoTime() - t0) / 1e9
    t.detach()
    ctx.checked("curation run", check(c))
    val bytes = Stats.dirBytes(root)._1
    Stats.deleteTree(root)
    (dt, c, bytes)
  }

  def measure(spark: SparkSession): Unit = {
    val off = new Tracer(spark, enabled = false)
    val (first, c, outBytes) = op(spark, off, -1)
    settle()
    ctx.say(s"curate_corpus: stage counts $c")
    val tracer = new Tracer(spark, enabled = ctx.args.trace)
    val warm, traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    // a traced run alternates untraced and traced runs, starting untraced
    loop(ctx.args.seconds, if (tracer.enabled) 5 else 2) { i =>
      val traceThis = tracer.enabled && i % 2 == 1
      val dt = op(spark, if (traceThis) tracer else off, i)._1
      (if (traceThis) traced else warm) += dt
      dt
    }
    val med = Stats.median(warm.toSeq)
    ctx.say(f"curate_corpus: cold run $first%.3f s, warm runs ${warm.map(x => f"$x%.3f").mkString(" ")} s")
    ctx.e2e("first_op_s", first, "s")
    ctx.e2e("op_s_p50", med, "s")
    ctx.e2e("items_per_s", corpus.docs.size / med, "1/s")
    ctx.e2e("store_bytes_per_input_byte", outBytes.toDouble / inputBytes, "B/B")
    ctx.say(f"metric curate_run_s = $med%.6f s  (median of ${warm.size})")
    ctx.say(f"metric curate_docs_per_s = ${corpus.docs.size / med}%.1f 1/s  (${corpus.docs.size} docs)")
    if (tracer.enabled) {
      Layers.curate(ctx, tracer, traced.toSeq, Stats.median(warm.drop(1).toSeq), c)
      Files.write(Paths.get(ctx.path("trace.json")), tracer.json.getBytes("UTF-8"))
    }
  }
}
