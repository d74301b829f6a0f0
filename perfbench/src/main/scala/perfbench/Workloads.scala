package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.etl.{Transform, Warehouse}
import graft.ext.Manifests
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a workload. Its time is `compose` (building the result
  * frame, eager side jobs included) plus `exec` (materializing it). `exec`
  * returns the rows the op changed, or -1 where that does not apply, and
  * throws when the result is wrong. */
final case class Op(name: String, kind: String, module: String,
    compose: () => AnyRef, exec: AnyRef => Long)

/** A correctness check made on an untimed pass. */
final case class Check(name: String, ok: Boolean, detail: String = "")

trait Workload {
  /** The steps that build the workload's own fixture from the raw inputs.
    * The build is repeated so the set-up time is a median. */
  def fixture(): Seq[Op] = Nil
  def fixtureRepeats: Int = 1
  /** The untimed correctness pass. It also warms the caches the timed
    * rounds use. */
  def check(out: String): Seq[Check]
  /** Round `r` of the closed loop; warm-up rounds come first. */
  def round(r: Int): Seq[Op]
  /** Rounds that make up one full cycle of the workload's op types. The
    * timed pass runs whole cycles, at least two, so every op type gets the
    * same number of repeats. */
  def cycle: Int = 1
  /** Untimed rounds after the correctness pass. */
  def warmRounds: Int = 0
  /** Checks that need the state the timed rounds left. */
  def finalChecks(): Seq[Check] = Nil
  /** Table-format layer state after the timed pass. */
  def tableState(): Map[String, Double] = Map.empty
}

object Workloads {

  /** Every column and the final ordering, computed and discarded. */
  def materialize(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    -1L
  }

  private def query(spark: SparkSession, dir: String, name: String, module: String) =
    Op(name, "query", module,
      () => SparkEntry.queries(name)(spark, dir),
      df => materialize(df.asInstanceOf[DataFrame]))

  /** Untimed pass over named queries: each result is written as parquet
    * for the DuckDB comparison, with its oracle SQL beside it. A timed
    * query must have an oracle. */
  def dumpResults(spark: SparkSession, dir: String, names: Seq[String],
      out: String): Seq[Check] = {
    val oracle = SparkEntry.oracleSql
    val sqls = mutable.LinkedHashMap.empty[String, String]
    val checks = names.map { n =>
      val t0 = System.nanoTime()
      try {
        val sql = oracle.getOrElse(n, sys.error("no oracle SQL"))
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$out/results/$n")
        sqls(n) = sql
        Check(n, ok = true, f"written in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch {
        case scala.util.control.NonFatal(e) => Check(n, ok = false, e.toString)
      }
    }
    Json.writeFile(s"$out/oracle_sql.json", Json.obj(sqls.toSeq.map {
      case (k, v) => k -> Json.str(v) }: _*))
    checks
  }

  // ---------------------------------------------------------- query mix
  /** Six of the thirty-two quality and analytics (`q_`) queries: the
    * staging and clean-chain profiles, the pipeline checks, a salted fact
    * join, a cube and a running window. */
  val queryMixNames: Seq[String] = Seq(
    "q_stage_counts", "q_analyze_stats", "q_checks", "q_country_sales_salted",
    "q_sales_cube", "q_running_revenue")

  /** LLM-data operators over `documents` and `embeddings`, one from each
    * operator module, with the module that implements it. */
  val corpusOps: Seq[(String, String)] = Seq(
    "minhash_pairs" -> "Dedup", "quality_score" -> "TextAnalysis",
    "similarity_topk" -> "Similarity", "pii_scrub" -> "Scrub",
    "decontaminate" -> "Corpus")
  val operatorModules: Seq[String] = corpusOps.map(_._2).distinct

  /** The read-only query surface: the `q_` queries over the warm cached
    * warehouse and the corpus operators, in a seed-permuted order.
    *
    * The warehouse is the fixture, built from the raw inputs. Traced runs
    * also write it out, as the pipeline's transform stage does, to time the
    * write path; the queries read the cached warehouse, so untraced runs
    * skip that write. */
  final class QueryMix(spark: SparkSession, dir: String, work: String, seed: Long,
      writeOut: Boolean) extends Workload {
    private val ops = queryMixNames.map(_ -> "SparkEntry") ++ corpusOps
    // each op keeps speeding up over its first few repeats (JIT)
    override def warmRounds: Int = 2
    override def fixture(): Seq[Op] = {
      def step(name: String, module: String)(body: => Any) =
        Op(name, "etl", module, () => None, _ => { body; -1L })
      val build = step("Warehouse.apply", "Warehouse") { Warehouse(spark, dir).fact.count() }
      val write = step("Transform.writeWarehouse", "Transform") {
        Transform.writeWarehouse(spark, dir, s"$work/warehouse")
      }
      if (writeOut) Seq(build, write) else Seq(build)
    }
    def check(out: String): Seq[Check] = dumpResults(spark, dir, ops.map(_._1), out)
    def round(r: Int): Seq[Op] =
      new scala.util.Random(seed * 7919 + r).shuffle(ops)
        .map { case (n, m) => query(spark, dir, n, m) }
  }

  // --------------------------------------------------------- table DML
  /** Op types of the table-format workload, and which of them write. */
  val dmlKinds: Seq[String] = Seq("append", "delete", "update", "merge",
    "compact", "vacuum", "scan", "point", "changes", "readat")
  val dmlRowWrites: Set[String] = Set("append", "delete", "update", "merge")
  val dmlWrites: Set[String] = dmlRowWrites ++ Set("compact", "vacuum")

  sealed trait Spec
  final case class Append(lo: Long, n: Int) extends Spec
  final case class Delete(lo: Long, hi: Long) extends Spec
  final case class Update(lo: Long, hi: Long) extends Spec
  final case class Merge(lo: Long, hi: Long, newLo: Long, nNew: Int) extends Spec

  /** A manifest table seeded from `orders`, then rounds of seeded writes
    * and reads: even rounds append, delete, scan, point-read and vacuum;
    * odd rounds update, merge, read the change feed, time-travel and
    * compact. Keys are drawn from the live key set,
    * so every write changes rows. The writes are recorded and replayed on plain
    * DataFrames at the end; the table must equal the replay. */
  final class TableDml(spark: SparkSession, dir: String, work: String, seed: Long)
      extends Workload {
    private val rng = new scala.util.Random(seed)
    private val orders = spark.read.parquet(s"$dir/orders.parquet")
    private val schema = orders.schema
    private val nCust = spark.read.parquet(s"$dir/customer.parquet").count()
    private var fixtures = 0
    private var base = ""
    private val live = new java.util.TreeSet[java.lang.Long]()
    private var nextKey = 0L
    private var latest = 0
    private val versions = mutable.ArrayBuffer.empty[Int]
    private val specs = mutable.ArrayBuffer.empty[Spec]
    private val keepLast = 10

    override def fixtureRepeats: Int = 3
    override def fixture(): Seq[Op] = Seq(
      Op("commitData", "write", "Manifests", () => None, _ => {
        fixtures += 1
        base = s"$work/table_$fixtures"
        latest = Manifests.commitData(orders.repartitionByRange(8, col("o_orderkey")), base)
        -1L
      }))

    def check(out: String): Seq[Check] = {
      orders.select("o_orderkey").collect().foreach(r => live.add(r.getLong(0)))
      nextKey = live.last + 1
      versions += latest
      Seq(Check("table_seeded", live.size == orders.count()))
    }

    private def ids(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).toDF()
    /** Rows for keys in `ids`, typed to the table's schema. */
    private def rows(ids: DataFrame, tag: String): DataFrame = {
      val id = col("id")
      def typed(c: Column, name: String) = c.cast(schema(name).dataType).as(name)
      ids.select(
        typed(id, "o_orderkey"),
        typed(id % nCust, "o_custkey"),
        typed(lit(tag), "o_orderstatus"),
        typed((id % 1000) + 0.25, "o_totalprice"),
        typed(to_timestamp(lit("2001-06-01 00:00:00")), "o_orderdate"),
        typed(lit(s"$tag-PRIORITY"), "o_orderpriority"))
    }
    private def mergeRows(m: Merge): DataFrame =
      rows(ids(m.lo, m.hi + 1), "M")
        .unionByName(rows(ids(m.newLo, m.newLo + m.nNew), "M"))
    private def inRange(lo: Long, hi: Long) = col("o_orderkey").between(lo, hi)
    private val updateSet = Map(
      "o_totalprice" -> (col("o_totalprice") + 1.0),
      "o_orderstatus" -> lit("U"))

    /** A live key at or after a random point. */
    private def liveKey(): Long = {
      val k = live.ceiling(rng.nextLong(nextKey))
      if (k == null) live.first else k
    }
    private def liveRange(width: Int, avoid: (Long, Long) = (-1L, -1L)): (Long, Long) = {
      var lo = liveKey()
      while (lo >= avoid._1 && lo <= avoid._2 + width) lo = liveKey()
      (lo, lo + width - 1)
    }
    private def dropLive(lo: Long, hi: Long): Unit = live.subSet(lo, true, hi, true).clear()
    private def addLive(lo: Long, n: Long): Unit = (lo until lo + n).foreach(k => live.add(k))
    private def commit(v: Int): Unit = { latest = v; versions += v }
    private def write(name: String, spec: Spec)(body: => (Long, Int)): Op =
      Op(name, "write", "Manifests", () => spec, _ => {
        val (changed, v) = body
        commit(v); specs += spec
        changed
      })
    private def read(name: String)(frame: => DataFrame): Op =
      Op(name, "read", "Manifests", () => frame, df => materialize(df.asInstanceOf[DataFrame]))

    private val roundStarts = mutable.ArrayBuffer.empty[Int]
    override def cycle: Int = 2
    // one untimed cycle on the real table: the first run of each op is slow
    override def warmRounds: Int = 2

    def round(r: Int): Seq[Op] = {
      roundStarts += latest
      val ops =
        if (r % 2 == 0) {
          val app = Append(nextKey, 200)
          nextKey += 200
          val (dLo, dHi) = liveRange(120)
          Seq(
            write("append", app) {
              addLive(app.lo, app.n)
              (app.n.toLong, Manifests.append(rows(ids(app.lo, app.lo + app.n), "A"), base))
            },
            write("delete", Delete(dLo, dHi)) {
              dropLive(dLo, dHi)
              Manifests.deleteWhereMor(spark, base, inRange(dLo, dHi))
            },
            read("scan")(Manifests.readLatest(spark, base)),
            Op("point", "read", "Manifests", () => liveKey().asInstanceOf[AnyRef], k => {
              val got = Manifests.readLatest(spark, base)
                .filter(col("o_orderkey") === k.asInstanceOf[Long]).collect()
              require(got.length == 1, s"point read of live key $k returned ${got.length} rows")
              -1L
            }))
        } else {
          val (uLo, uHi) = liveRange(120)
          val (mLo, mHi) = liveRange(100, avoid = (uLo, uHi))
          // the matched range can run past the highest key: the new keys
          // start after it, so the merge batch never repeats a key
          nextKey = nextKey max (mHi + 1)
          val mg = Merge(mLo, mHi, nextKey, 50)
          nextKey += 50
          val since = roundStarts(r - 1)
          val previous = versions.takeRight(keepLast).head
          Seq(
            write("update", Update(uLo, uHi)) {
              val (_, n, v) = Manifests.updateWhereMor(spark, base, inRange(uLo, uHi), updateSet)
              (n, v)
            },
            write("merge", mg) {
              addLive(mLo, mHi - mLo + 1); addLive(mg.newLo, mg.nNew)
              val (_, n, v) = Manifests.mergeMor(spark, base, mergeRows(mg), Seq("o_orderkey"))
              (n, v)
            },
            read("changes")(Manifests.changesBetween(spark, base, since, latest)),
            read("readat")(Manifests.readAt(spark, base, previous)))
        }
      val upkeep =
        if (r % 2 == 0) Op("vacuum", "write", "Manifests", () => None, _ => {
          Manifests.vacuum(spark, base, keepLast)
          -1L
        })
        else Op("compact", "write", "Manifests", () => None, _ => {
          val (_, _, v) = Manifests.compact(spark, base, 8)
          commit(v); -1L
        })
      ops :+ upkeep
    }

    override def finalChecks(): Seq[Check] = {
      var model = orders
      specs.zipWithIndex.foreach { case (s, i) =>
        model = s match {
          case Append(lo, n) => model.unionByName(rows(ids(lo, lo + n), "A"))
          case Delete(lo, hi) => model.filter(!inRange(lo, hi))
          case Update(lo, hi) =>
            model.select(schema.fieldNames.toSeq.map { c =>
              updateSet.get(c).map(e => when(inRange(lo, hi), e).otherwise(col(c)))
                .getOrElse(col(c)).cast(schema(c).dataType).as(c)
            }: _*)
          case m: Merge =>
            val upd = mergeRows(m)
            model.join(upd.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
              .unionByName(upd)
        }
        if (i % 8 == 7) model = model.localCheckpoint()
      }
      val table = Manifests.readLatest(spark, base).select(schema.fieldNames.toSeq.map(col): _*)
      val extra = table.exceptAll(model).count()
      val missing = model.exceptAll(table).count()
      Seq(Check("table_equals_replay", extra == 0 && missing == 0,
        s"${specs.size} writes replayed; $extra extra, $missing missing rows"))
    }

    override def tableState(): Map[String, Double] = {
      val fs = graft.ext.Dfs.fs(spark, base)
      val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(base)).getLength
      Map("manifest.table_mb" -> bytes / (1024.0 * 1024.0),
        "manifest.live_files" -> Manifests.files(spark, base, latest).size.toDouble)
    }
  }
}
