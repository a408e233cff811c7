package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.cdc.{Cdc, PartitionedUpsert}

/** `cdc_upsert`: the product's core loop on one keyed graft table.
  *
  * Set-up initializes a hash-bucketed table from a generated snapshot.
  * The timed closed loop (one client) then repeats: decode a micro-batch
  * of JSON change envelopes with the dead-letter split and merge it;
  * look up a few keys with `readForKeys`; read a key range through the
  * DataSource V2 face. Every `CompactEvery` merges it compacts and
  * vacuums. An in-memory last-writer-wins model checks every lookup and
  * range read, the final full read, and one time-travel read and change
  * feed at a retained version. */
object CdcUpsert {
  val InitRows = 20000
  val Buckets = 64
  // ~30 distinct keys hash to ~24 of 64 buckets: a merge rewrites a
  // minority of the table, as a streaming micro-batch does
  val BatchSize = 30
  val PoolBatches = 400
  val CompactEvery = 4
  // a rewritten bucket holds up to one file per write task
  val CompactAbove = 2
  val RangeEvery = 3
  val LookupsPerIteration = 2
  val KeepManifests = 6
  val RangeWidth = 200

  final case class Acct(name: String, amount: Double, qty: Int,
                        status: String, updatedMs: Long)

  final case class Change(op: String, id: Long, after: Option[Acct],
                          json: String, malformed: Boolean)

  val valueCols: Seq[String] = Seq("name", "amount", "qty", "status", "updated_ms")

  val tableSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("amount", DoubleType), StructField("qty", IntegerType),
    StructField("status", StringType), StructField("updated_ms", LongType)))

  private val rawSchema = StructType(Seq(StructField("j", StringType)))

  /** Seeded input generator. It tracks which keys are live, so updates
    * and deletes target existing rows. */
  final class Gen(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val statuses = Array("open", "active", "frozen", "closed")
    private val live = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    private val recent = new Array[Long](512)
    private var nRecent = 0
    private var nextId = 0L
    private var lsn = 0L
    private var clockMs = 1700000000000L

    private def addLive(id: Long): Unit = if (!pos.contains(id)) {
      pos(id) = live.size
      live += id
    }

    private def removeLive(id: Long): Unit = pos.remove(id).foreach { i =>
      val last = live.remove(live.size - 1)
      if (last != id) { live(i) = last; pos(last) = i }
    }

    private def acct(): Acct = Acct(
      "acct-" + java.lang.Long.toString(rnd.nextLong(1L << 40), 36),
      rnd.nextInt(10000000) / 100.0, rnd.nextInt(1000),
      statuses(rnd.nextInt(statuses.length)), clockMs)

    private def newId(): Long = {
      val id = nextId
      nextId += 1
      recent((nRecent % recent.length).toInt) = id
      nRecent += 1
      id
    }

    def snapshot(): Seq[(Long, Acct)] = (0 until InitRows).map { _ =>
      val id = newId()
      addLive(id)
      id -> acct()
    }

    def batch(): Seq[Change] = (0 until BatchSize).map { _ =>
      lsn += 1
      clockMs += 1 + rnd.nextInt(50)
      val r = rnd.nextDouble()
      val (op, id) =
        if (r < 0.24 || live.isEmpty) ("c", newId())
        else if (r < 0.30) ("d", live(rnd.nextInt(live.size)))
        else if (rnd.nextDouble() < 0.8)
          ("u", recent(rnd.nextInt(math.min(nRecent, recent.length))))
        else ("u", live(rnd.nextInt(live.size)))
      val after = if (op == "d") None else Some(acct())
      val malformed = rnd.nextDouble() < 0.01
      val wireOp = if (malformed && rnd.nextBoolean()) "x" else op
      val json0 = envelope(wireOp, id, after, lsn, clockMs)
      val json = if (malformed && wireOp == op) json0.dropRight(1) else json0
      if (!malformed) { if (op == "d") removeLive(id) else addLive(id) }
      Change(op, id, after, json, malformed)
    }

    private def envelope(op: String, id: Long, after: Option[Acct],
                         lsn: Long, ts: Long): String = {
      val img = after.map(a =>
        s"""{"id":$id,"name":"${a.name}","amount":${a.amount},"qty":${a.qty},""" +
          s""""status":"${a.status}","updated_ms":${a.updatedMs}}""")
      val before = if (op == "d") s"""{"id":$id}""" else "null"
      s"""{"op":"$op","before":$before,"after":${img.getOrElse("null")},""" +
        s""""source":{"table":"accounts","lsn":$lsn},"ts_ms":$ts}"""
    }
  }

  private def flatten(good: DataFrame): DataFrame =
    good.select((coalesce(col("after.id"), col("before.id")).as("id") +:
      col("lsn") +: col("op") +: valueCols.map(c => col(s"after.$c").as(c))): _*)

  private def toAcct(r: Row): (Long, Acct) =
    r.getAs[Long]("id") -> Acct(r.getAs[String]("name"), r.getAs[Double]("amount"),
      r.getAs[Int]("qty"), r.getAs[String]("status"), r.getAs[Long]("updated_ms"))

  /** None when `got` holds exactly the rows of `expected`. */
  private def compare(expected: collection.Map[Long, Acct], got: Seq[Row]): Option[String] = {
    val g = got.map(toAcct)
    val gm = g.toMap
    if (gm.size != g.size) Some(s"${g.size - gm.size} duplicate keys")
    else if (gm.size != expected.size)
      Some(s"${gm.size} rows, expected ${expected.size}")
    else expected.collectFirst {
      case (k, v) if !gm.get(k).contains(v) => s"key $k: got ${gm.get(k)}, expected $v"
    }
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    // set-up, once: generate the inputs and initialize the table
    val setupStart = System.nanoTime()
    val gen = new Gen(seed)
    var snapshot = gen.snapshot()
    val pool = Seq.fill(PoolBatches)(gen.batch())
    val dir = s"$work/cdc/table"
    PartitionedUpsert.init(spark.createDataFrame(snapshot.map { case (id, a) =>
      Row(id, a.name, a.amount, a.qty, a.status, a.updatedMs) }.asJava, tableSchema),
      dir, "id", Buckets)
    report.fields("setup_s") = sessionSeconds + since(setupStart)
    val digest = new InputDigest
    snapshot.foreach { case (id, a) => digest.add(s"$id,$a") }
    pool.foreach(_.foreach(c => digest.add(c.json)))
    report.fields("input_digest") = digest.hex
    report.fields("input_rows") = InitRows
    report.fields("input_batches") = PoolBatches

    var model: HashMap[Long, Acct] = HashMap.from(snapshot)
    snapshot = Nil
    var version = 1L
    val versions = mutable.LinkedHashMap(version -> model)
    def newVersion(): Unit = {
      version += 1
      versions(version) = model
      if (versions.size > 12) versions.remove(versions.head._1)
    }
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    // keys below idCeiling have been inserted by now (most are still live)
    var idCeiling = InitRows.toLong
    var lastBatch: Seq[Change] = Nil
    var committed = 0L

    def merge(batch: Seq[Change], traced: Boolean): Unit = {
      val raw = spark.createDataFrame(batch.map(c => Row(c.json)).asJava, rawSchema)
      var pending: Option[PartitionedUpsert.Pending] = None
      var bad: DataFrame = null
      val res = attempt("merge") {
        timeIt {
          tracer.op("cdc.merge", traced) {
            val (g, b) = tracer.span("cdc.decode") {
              Cdc.decodeWithDlq(raw, "j", tableSchema)
            }
            bad = b
            if (traced) {
              // the public steps `merge` composes, on the same lazy input:
              // decoding executes inside `prepare`'s staged write
              tracer.span("cdc.manifest_read") {
                PartitionedUpsert.currentManifest(spark, dir)
              }
              val p = tracer.span("cdc.prepare") {
                PartitionedUpsert.prepare(spark, dir, flatten(g), "id", "lsn", "op",
                  valueCols, Buckets)
              }
              if (p.touched.nonEmpty) tracer.span("cdc.commit") {
                PartitionedUpsert.commit(spark, dir, p)
              }
              pending = Some(p)
              p.touched
            } else PartitionedUpsert.merge(spark, dir, flatten(g), "id", "lsn",
              "op", valueCols, Buckets)
          }
        }
      }
      batch.filterNot(_.malformed).foreach { c =>
        model = if (c.op == "d") model - c.id else model.updated(c.id, c.after.get)
      }
      res.foreach { case (touched, secs) =>
        report.check("merge", None)
        record("merge", secs, traced)
        if (touched.nonEmpty) newVersion()
        committed += batch.count(!_.malformed)
      }
      idCeiling = math.max(idCeiling, batch.map(_.id).max + 1)
      lastBatch = batch
      if (traced) pending.foreach { p =>
        tracer.annotate("envelopes", batch.size)
        tracer.annotate("dlq_rows", bad.count().toDouble)
        tracer.annotate("buckets_touched", p.touched.size)
        tracer.annotate("buckets", Buckets)
        tracer.annotate("staged_bytes",
          Stats.dirBytes(new File(s"$dir/data/${p.staging}")).toDouble)
        tracer.annotate("input_bytes", batch.map(_.json.getBytes("UTF-8").length).sum)
        val manifests = new File(s"$dir/_manifests").listFiles()
          .filter(_.getName.endsWith(".manifest"))
        tracer.annotate("manifest_bytes", manifests.maxBy(_.getName).length().toDouble)
        val m = PartitionedUpsert.manifestOrFail(spark, dir)
        tracer.annotate("files_per_bucket_max", m.buckets.values.map { rel =>
          Option(new File(s"$dir/$rel").listFiles()).toSeq.flatten
            .count(_.getName.endsWith(".parquet"))
        }.max.toDouble)
      }
    }

    def lookup(traced: Boolean): Unit = {
      val recentKeys = lastBatch.filterNot(_.malformed).map(_.id).distinct
      val keys = (Seq.fill(4)(
        if (recentKeys.isEmpty) rnd.nextLong(idCeiling)
        else recentKeys(rnd.nextInt(recentKeys.size))) ++
        Seq.fill(3)(rnd.nextLong(idCeiling)) :+ (idCeiling + 1000)).distinct
      val keysDf = spark.createDataFrame(keys.map(k => Row(k)).asJava,
        StructType(Seq(StructField("id", LongType))))
      var read: DataFrame = null
      attempt("lookup") {
        timeIt {
          tracer.op("cdc.lookup", traced) {
            read = tracer.span("cdc.read_for_keys") {
              PartitionedUpsert.readForKeys(spark, dir, keysDf, "id")
            }
            tracer.span("cdc.lookup_exec") {
              read.filter(col("id").isin(keys: _*)).collect().toSeq
            }
          }
        }
      }.foreach { case (rows, secs) =>
        record("lookup", secs, traced)
        report.check("lookup", compare(keys.flatMap(k => model.get(k).map(k -> _)).toMap, rows))
        if (traced) tracer.annotate("buckets_read",
          read.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length)
      }
    }

    def range(traced: Boolean): Unit = {
      val lo = rnd.nextLong(idCeiling - RangeWidth)
      val hi = lo + RangeWidth - 1
      attempt("range") {
        timeIt {
          tracer.op("sources.range", traced) {
            val df = tracer.span("sources.range_plan") {
              val d = spark.read.format("graft").load(dir)
                .filter(col("id").between(lo, hi))
              if (traced) d.queryExecution.executedPlan
              d
            }
            tracer.span("sources.range_exec") { df.collect().toSeq }
          }
        }
      }.foreach { case (rows, secs) =>
        record("range", secs, traced)
        report.check("range",
          compare((lo to hi).flatMap(k => model.get(k).map(k -> _)).toMap, rows))
      }
    }

    def compact(): Unit = {
      attempt("compact") {
        timeIt(tracer.op("cdc.compact", trace) {
          PartitionedUpsert.compactFiles(spark, dir, maxFilesPerBucket = CompactAbove)
        })
      }.foreach { case (buckets, secs) =>
        report.check("compact", None)
        report.sample("compact", secs)
        if (buckets.nonEmpty) newVersion()
        if (trace) {
          val after = PartitionedUpsert.manifestOrFail(spark, dir)
          tracer.annotate("bytes_rewritten", buckets.map(b =>
            Stats.dirBytes(new File(s"$dir/${after.buckets(b)}"))).sum.toDouble)
        }
      }
    }

    def vacuum(keep: Int): Unit = {
      val planned =
        if (trace) PartitionedUpsert.vacuumPlan(spark, dir, keep, 0L).size else 0
      attempt("vacuum") {
        timeIt(tracer.op("cdc.vacuum", trace) {
          PartitionedUpsert.vacuum(spark, dir, keep, 0L)
        })
      }.foreach { case (_, secs) =>
        report.check("vacuum", None)
        report.sample("vacuum", secs)
        tracer.annotate("files_deleted", planned)
      }
    }

    val t0 = System.nanoTime()
    var next = 0
    var iter = 0
    val committed0 = committed
    // at least CompactEvery iterations, so that every run compacts
    while ((since(t0) < seconds || iter < CompactEvery) && next < pool.size) {
      val traced = trace && iter % 2 == 0
      merge(pool(next), traced)
      next += 1
      (0 until LookupsPerIteration).foreach(_ => lookup(traced))
      if (iter % RangeEvery == 0) range(traced)
      iter += 1
      if (iter % CompactEvery == 0) { compact(); vacuum(KeepManifests) }
    }
    val wall = since(t0)
    report.fields("timed_wall_s") = wall
    report.fields("iterations") = iter
    report.fields("changes_committed") = committed - committed0
    report.fields("changes_per_s") = (committed - committed0) / wall

    // end-of-run checks: version count, full read, time travel, change feed
    val checksStart = System.nanoTime()
    attempt("version") {
      val v = PartitionedUpsert.manifestOrFail(spark, dir).version
      report.check("version",
        if (v == version) None else Some(s"table at v$v, expected v$version"))
    }
    attempt("full read") {
      report.check("full read", compare(model, PartitionedUpsert.read(spark, dir).collect().toSeq))
    }
    val vCheck = math.max(1L, version - 3)
    versions.get(vCheck).foreach { old =>
      attempt("read version") {
        report.check(s"read version $vCheck",
          compare(old, PartitionedUpsert.readVersion(spark, dir, vCheck).collect().toSeq))
      }
      attempt("changes between") {
        val got = PartitionedUpsert.changesBetween(spark, dir, vCheck, version)
          .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("change_type")).toMap
        val want = (old.keySet ++ model.keySet).toSeq.flatMap { k =>
          (old.get(k), model.get(k)) match {
            case (None, Some(_)) => Some(k -> "insert")
            case (Some(_), None) => Some(k -> "delete")
            case (Some(a), Some(b)) if a != b => Some(k -> "update")
            case _ => None
          }
        }.toMap
        report.check(s"changes between v$vCheck and v$version",
          if (got == want) None
          else Some(s"${got.size} changes, expected ${want.size}; " +
            s"first difference ${(got.toSet diff want.toSet).headOption
              .orElse((want.toSet diff got.toSet).headOption)}"))
      }
    }
    // storage overhead: the table after a full vacuum against its live
    // rows written once as plain parquet
    vacuum(1)
    attempt("plain copy") {
      val plain = s"$work/cdc/plain"
      PartitionedUpsert.read(spark, dir).write.parquet(plain)
      report.fields("bytes_per_live_byte") =
        Stats.dirBytes(new File(dir)).toDouble / Stats.dirBytes(new File(plain))
    }
    report.fields("checks_s") = since(checksStart)
  }
}
