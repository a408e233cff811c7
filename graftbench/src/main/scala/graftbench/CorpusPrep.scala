package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.llm._

/** `corpus_prep`: the LLM-data pipeline over a generated corpus, then
  * nearest-neighbour search against an IVF index.
  *
  * The corpus plants exact duplicates, near-duplicates (one token
  * changed), PII and too-short documents among unique documents, so the
  * expected output is known: one survivor (the smallest id) per
  * duplicate group, no short document, no PII left in the scrubbed text.
  * The timed loop alternates `CorpusPipeline.prepare` + `writeShards`
  * with `IvfIndex.search` batches of 100 queries against an index built
  * in set-up. The warm-up search's recall@10 against exact
  * `Knn.bruteForceTopK` is checked at the end against [[RecallFloor]]. */
object CorpusPrep {
  val Bases = 1600
  val ExactDups = 150
  val NearDups = 200
  val ShortDocs = 50
  val Docs: Int = Bases + ExactDups + NearDups + ShortDocs
  val Strata = 8
  val Vectors = 4000
  val Dim = 64
  val Clusters = 32
  val Codebook = 8
  val Nprobe = 2
  val TopK = 10
  val QueryBatch = 100
  val QueryIdBase = 1000000000L
  val QueryBatches = 20
  val SearchesPerPrepare = 4
  // searches after the first prepare even when its time is already up
  val MinSearches = 2
  val RecallQueries = 20
  val RecallFloor = 0.9
  val TokensPerShard = 20000

  final case class Corpus(rows: Seq[Row], expected: Set[Long])

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def corpus(seed: Long, digest: InputDigest): Corpus = {
    val rnd = new SplittableRandom(seed)
    val syll = Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "va", "ze",
      "bre", "dra", "fli", "gro", "plu", "sta", "tri", "qua", "xe", "yo")
    val vocab = Array.fill(3000)(Seq.fill(2 + rnd.nextInt(3))(
      syll(rnd.nextInt(syll.length))).mkString).distinct
    def word(): String = {
      val r = rnd.nextDouble()
      if (r < 0.02) "the" else if (r < 0.04) "a" else vocab(rnd.nextInt(vocab.length))
    }
    def pii(): String =
      if (rnd.nextBoolean()) s"user${rnd.nextInt(100000)}@mail${rnd.nextInt(50)}.example.com"
      else f"${200 + rnd.nextInt(700)}%03d-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
    val bases = Array.fill(Bases) {
      val toks = Array.fill(40 + rnd.nextInt(50))(word())
      if (rnd.nextDouble() < 0.1) toks(rnd.nextInt(toks.length)) = pii()
      toks
    }
    // every planted copy joins its base's group
    val texts = mutable.ArrayBuffer.empty[(Array[String], Int)]
    bases.indices.foreach(b => texts += ((bases(b), b)))
    (0 until ExactDups).foreach { _ =>
      val b = rnd.nextInt(Bases)
      texts += ((bases(b), b))
    }
    (0 until NearDups).foreach { _ =>
      val b = rnd.nextInt(Bases)
      val t = bases(b).clone()
      t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.length))
      texts += ((t, b))
    }
    (0 until ShortDocs).foreach(_ => texts += ((Array.fill(5 + rnd.nextInt(10))(word()), -1)))
    // ids are a random permutation, so a group's survivor is any member
    val ids = (0 until texts.size).map(_.toLong).toArray
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val rows = texts.indices.map { i =>
      val text = texts(i)._1.mkString(" ")
      val src = s"src${rnd.nextInt(Strata)}"
      digest.add(s"${ids(i)}\t$src\t$text")
      Row(ids(i), text, src)
    }
    val expected = texts.indices.filter(texts(_)._2 >= 0)
      .groupBy(texts(_)._2).values.map(_.map(ids(_)).min).toSet
    Corpus(rows, expected)
  }

  def vectors(seed: Long, digest: InputDigest): (Seq[Row], Seq[Seq[Row]]) = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    val centers = Array.fill(Clusters, Dim)(rnd.nextDouble() * 2 - 1)
    def noisy(base: Array[Double], sd: Double): Array[Float] =
      base.map(x => (x + sd * gaussian(rnd)).toFloat)
    val vecs = Array.tabulate(Vectors)(_ => noisy(centers(rnd.nextInt(Clusters)), 0.35))
    val corpusRows = vecs.indices.map { i =>
      digest.add(s"$i:${vecs(i).mkString(",")}")
      Row(i.toLong, vecs(i).toSeq)
    }
    val batches = (0 until QueryBatches).map { b =>
      (0 until QueryBatch).map { q =>
        val v = noisy(vecs(rnd.nextInt(Vectors)).map(_.toDouble), 0.05)
        digest.add(s"q$b.$q:${v.mkString(",")}")
        Row(QueryIdBase + b * QueryBatch + q, v.toSeq)
      }
    }
    (corpusRows, batches)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller, one value per call
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Traced runs only: the public calls `prepare` composes, one after
    * another, each materialized in its own span. `prepare` builds them
    * into one lazy plan together with its inline scrub and exact-dedup
    * steps, which no public call exposes, so here they run on the raw
    * corpus text. */
  private def stages(ctx: Ctx, docs: DataFrame, out: String): Unit = {
    import ctx.tracer
    val cfg = CorpusPipeline.Config()
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); held += p; p }
    try tracer.op("llm.stages", traced = true) {
      val input = pin(docs)
      val edges = tracer.span("llm.minhash") {
        pin(NearDup.minHashNearDups(input, "doc_id", "text", cfg.minHashK,
          cfg.minHashBands, cfg.nearDupThreshold))
      }
      tracer.count("nd_edges", edges.count().toDouble)
      val clustered = tracer.span("llm.cluster") {
        pin(DedupCluster.assignClusters(input, edges, "doc_id", "doc_a", "doc_b"))
      }
      val split = tracer.span("llm.sample_split") {
        pin(Sampling.stratifiedSample(clustered, "doc_id", "source",
            cfg.sampleRatesPct, cfg.defaultSamplePct)
          .withColumn("split", Sampling.assignSplit(col("doc_id"), cfg.trainPct,
            cfg.valPct)))
      }
      tracer.span("llm.shards") {
        CorpusPipeline.writeShards(split, out, "doc_id", "text", "source", TokensPerShard)
      }
    } finally {
      held.foreach(_.unpersist())
      Stats.deleteTree(new File(out))
    }
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val setupStart = System.nanoTime()
    // set-up runs once: the index build is the JVM's first Spark work,
    // and repeating it costs more than a run can spend (README.md)
    val digest = new InputDigest
    val corpusSet = corpus(seed, digest)
    val (vecRows, batches) = vectors(seed, digest)
    val docs = spark.createDataFrame(corpusSet.rows.asJava, docSchema)
    val vecDf = spark.createDataFrame(vecRows.asJava, vecSchema)
    val queries = batches.map(b => spark.createDataFrame(b.asJava, vecSchema))
    val index = s"$work/corpus/index"
    IvfIndex.build(vecDf, index, Dim, Codebook, iters = 5, seed = 42L)
    report.fields("input_digest") = digest.hex
    report.fields("input_docs") = Docs
    report.fields("input_vectors") = Vectors

    val piiPatterns = Seq(PiiRedact.EmailPattern, PiiRedact.PhonePattern,
      PiiRedact.Ipv4Pattern).map(_.r)
    var shardRun = 0

    def prepare(traced: Boolean, record: Boolean): Unit = {
      val out = s"$work/corpus/shards$shardRun"
      shardRun += 1
      attempt("prepare") {
        timeIt(tracer.op("llm.prepare", traced) {
          CorpusPipeline.writeShards(
            CorpusPipeline.prepare(docs, "doc_id", "text", "source"),
            out, "doc_id", "redacted", "source", TokensPerShard)
        })
      }.foreach { case (_, secs) =>
        if (record) ctx.record("prepare", secs, traced)
        val got = spark.read.parquet(s"$out/data").select("doc_id", "redacted")
          .collect().map(r => r.getLong(0) -> r.getString(1))
        val ids = got.map(_._1).toSet
        val want = corpusSet.expected
        report.check("prepare", (
          if (ids.size != got.length) Some(s"${got.length - ids.size} duplicate ids in the shards")
          else if (ids != want)
            Some(s"${(want -- ids).size} expected docs missing, " +
              s"${(ids -- want).size} unexpected docs kept")
          else None
        ).orElse(got.collectFirst {
          case (id, t) if piiPatterns.exists(_.findFirstIn(t).nonEmpty) =>
            s"doc $id keeps PII after scrubbing"
        }))
      }
      Stats.deleteTree(new File(out))
    }

    def search(traced: Boolean, batch: Int, record: Boolean): Seq[Row] = {
      attempt("search") {
        timeIt(tracer.op("llm.ivf_search", traced) {
          val df = tracer.span("llm.ivf_call") {
            IvfIndex.search(spark, index, queries(batch), TopK, Nprobe)
          }
          tracer.span("llm.ivf_exec") { df.collect() }
        })
      }.map { case (rows, secs) =>
        if (record) ctx.record("search", secs, traced)
        val perQuery = rows.groupBy(_.getAs[Long]("q_vec_id")).values.map(_.length)
        report.check("search",
          if (perQuery.size == QueryBatch && perQuery.forall(_ == TopK)) None
          else Some(s"${perQuery.size} queries answered, " +
            s"${rows.length} rows for ${QueryBatch * TopK} expected"))
        rows.toSeq
      }.getOrElse(Nil)
    }

    // warm-up: one prepare, one search (whose answers the recall check uses)
    prepare(traced = false, record = false)
    val warmAnswers = search(traced = false, 0, record = false)
    report.fields("setup_s") = sessionSeconds + since(setupStart)

    val t0 = System.nanoTime()
    var iter = 0
    var searches = 0
    while (iter == 0 || since(t0) < seconds) {
      prepare(trace && iter % 2 == 0, record = true)
      var s = 0
      while (s < SearchesPerPrepare &&
          ((iter == 0 && s < MinSearches) || since(t0) < seconds)) {
        search(trace && searches % 2 == 0, searches % QueryBatches, record = true)
        searches += 1
        s += 1
      }
      iter += 1
    }
    report.fields("timed_wall_s") = since(t0)
    report.fields("prepares") = iter
    report.fields("searches") = searches
    if (trace) attempt("stages") { stages(ctx, docs, s"$work/corpus/stages") }

    // recall@10 of the warm-up search against exact search, on the
    // batch's first RecallQueries queries
    attempt("recall") {
      val last = QueryIdBase + RecallQueries
      def pairs(rows: Seq[Row]): Set[(Long, Long)] = rows
        .map(r => r.getAs[Long]("q_vec_id") -> r.getAs[Long]("c_vec_id"))
        .filter(_._1 < last).toSet
      val exact = pairs(Knn.bruteForceTopK(queries(0).filter(col("vec_id") < last),
        vecDf, TopK).collect().toSeq)
      val approx = pairs(warmAnswers)
      val recall = (exact intersect approx).size.toDouble / exact.size
      report.fields("recall_at_10") = recall
      report.check("recall@10",
        if (recall >= RecallFloor) None else Some(f"$recall%.3f below floor $RecallFloor"))
    }
  }
}
