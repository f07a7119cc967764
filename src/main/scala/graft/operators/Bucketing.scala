package graft.operators

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable

/** Bucketed-table helpers: pre-shuffle fact tables ONCE on their join key so
  * every subsequent join/aggregation on that key runs shuffle-free — the
  * 100 TB answer to "this join shuffles 100 TB every run" (SURVEY §7.1:
  * bucketing / pre-partitioning for co-located joins).
  *
  * Spark's bucketing lives in the catalog (`bucketBy` requires
  * `saveAsTable`); readers of both sides get `HashPartitioning(key, n)`
  * output partitioning, and Catalyst elides the Exchange on joins whose keys
  * match the bucket spec.
  *
  * The one way a persisted index table changes: a build
  * ([[writeBucketed]], [[writePlain]]) decides the layout once; after that
  * [[append]] and [[rewrite]] read the bucket columns, bucket count, sort
  * columns and `graft.*` properties from the catalogue, and every rewrite
  * stages a sibling table and swaps it in by rename. The same holds for
  * an index's other build parameters: the build records them
  * ([[setTableParams]]) and every later reader takes them from the table
  * ([[tableParam]]). */
object Bucketing {

  /** Build `table`: persist `df` as a bucketed managed table, replacing any
    * previous one. `buckets` should match the downstream parallelism
    * target. The layout chosen here is the table's for life. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 32,
                    sortBy: Option[String] = None): Unit = {
    drop(df.sparkSession, table)
    val w = df.write.format("parquet").bucketBy(buckets, key)
    sortBy.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** Build a small UNBUCKETED side table, replacing any previous one — for
    * index metadata (one-row stats frames, the funnel's tombstone ledger)
    * that rides next to a bucketed index. */
  def writePlain(df: DataFrame, table: String): Unit = {
    drop(df.sparkSession, table)
    df.write.format("parquet").saveAsTable(table)
  }

  /** Append `df` to an EXISTING table built by [[writeBucketed]] or
    * [[writePlain]] — the index-MAINTENANCE path: grow a persisted index
    * by the increment's size instead of rewriting the corpus-sized table.
    * The bucket spec (key, count, sort columns) comes from the catalogue
    * — Spark refuses an append that names none — so readers keep
    * `HashPartitioning(key, n)` and co-located joins stay exchange-free. */
  def append(df: DataFrame, table: String): Unit = {
    // mode("append").saveAsTable would silently CREATE a missing table, and
    // an append-before-build against a mistyped name then registers an
    // increment-only "index" that later probes would serve as if it were
    // the full corpus. Appending requires the table to already exist.
    require(df.sparkSession.catalog.tableExists(table),
      s"append: table '$table' does not exist — build it with " +
        "writeBucketed or writePlain first (append-before-build would " +
        "register an increment-only index)")
    laidOut(df, metadata(df.sparkSession, table)).mode("append")
      .saveAsTable(table)
  }

  /** Replace the rows of an EXISTING table with `f(current)` — the one
    * rewrite (forget, compact, re-derived stats). The new rows are written
    * under a sibling name with the catalogue's bucket spec and `graft.*`
    * properties while the live table is still whole, then the live table
    * is dropped and the sibling renamed into its place. Nothing is pinned:
    * `f` may read the live table lazily. A failure before the swap removes
    * the sibling and leaves the live table as it was. */
  def rewrite(spark: SparkSession, table: String)
             (f: DataFrame => DataFrame): Unit = {
    spark.catalog.refreshTable(table)
    val meta = metadata(spark, table)
    val sib = table + "__swap"
    drop(spark, sib)
    try {
      laidOut(f(spark.table(table)), meta).saveAsTable(sib)
      val params = meta.properties.collect {
        case (k, v) if k.startsWith("graft.") => k.stripPrefix("graft.") -> v
      }
      if (params.nonEmpty) setTableParams(spark, sib, params)
    } catch {
      case e: Throwable =>
        drop(spark, sib)
        throw e
    }
    drop(spark, table)
    rename(spark, sib, table)
  }

  /** A parquet writer for `df` with `meta`'s bucket spec, if any. */
  private def laidOut(df: DataFrame,
                      meta: CatalogTable): DataFrameWriter[Row] = {
    val w = df.write.format("parquet")
    meta.bucketSpec.fold(w) { b =>
      val wb = w.bucketBy(b.numBuckets, b.bucketColumnNames.head,
        b.bucketColumnNames.tail: _*)
      if (b.sortColumnNames.isEmpty) wb
      else wb.sortBy(b.sortColumnNames.head, b.sortColumnNames.tail: _*)
    }
  }

  /** Publish a staged table under its live name: clear a stale live
    * location first (a warehouse dir left by a dead session makes the
    * rename fail), rename, refresh. */
  private[graft] def rename(spark: SparkSession, from: String,
                            to: String): Unit = {
    deleteLocation(spark, to)
    spark.sql(s"ALTER TABLE $from RENAME TO $to")
    spark.catalog.refreshTable(to)
  }

  /** Drop tables AND their warehouse locations: a stale dir from a dead
    * session makes a later CREATE TABLE fail with
    * LOCATION_ALREADY_EXISTS. */
  def drop(spark: SparkSession, tables: String*): Unit =
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      deleteLocation(spark, t)
    }

  private def deleteLocation(spark: SparkSession, table: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  private def metadata(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The bucket count of an existing catalog table, if it is bucketed. */
  def tableBuckets(spark: SparkSession, table: String): Option[Int] =
    metadata(spark, table).bucketSpec.map(_.numBuckets)

  /** Record an index's build parameters on its table as `graft.*`
    * TBLPROPERTIES — what the index was built with, decided once by its
    * build function. [[append]] leaves them and [[rewrite]] carries them,
    * and every later probe, append and audit reads them through
    * [[tableParam]] instead of taking them from its caller. */
  def setTableParams(spark: SparkSession, table: String,
                     params: Map[String, String]): Unit = {
    val kvs = params.map { case (k, v) => s"'graft.$k'='$v'" }
      .mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kvs)")
  }

  /** The build parameter `key` recorded on `table` by
    * [[setTableParams]]. A table without it was not built by `builtBy`,
    * so nothing can be served off it: fail naming both. */
  def tableParam(spark: SparkSession, table: String, key: String,
                 builtBy: String): String =
    metadata(spark, table).properties.getOrElse(s"graft.$key",
      throw new IllegalArgumentException(s"$table carries no graft.$key" +
        s" — build it with $builtBy first"))

  /** Join two bucketed tables on their bucket key. When both sides share the
    * same bucket count, the physical plan has NO Exchange under the join —
    * verify with `countExchanges`. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   leftKey: String, rightKey: String): DataFrame =
    spark.table(left).join(spark.table(right),
      spark.table(left)(leftKey) === spark.table(right)(rightKey))

  /** Number of shuffle Exchange operators in the final physical plan — the
    * observable for "this join is co-located". Traverses through AQE's
    * adaptive plan and materialized query stages (a post-execution adaptive
    * plan hides its exchanges inside `ShuffleQueryStageExec`). */
  def countExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeLike => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** [[countExchanges]] EXCLUDING the scan-parallelism fan-out exchange
    * (`SparkEntry.t`'s `pmod(xxhash64(id), …)` repartition of a
    * sub-parallelism local input, r17): plan gates pin each OPERATOR's
    * shuffle budget; the fan-out is a property of the tiny test input,
    * absent at scale by construction (it only fires when the scan cannot
    * reach the session's parallelism). Recognized by its signature
    * single-expression xxhash64 hash partitioning — no operator exchange
    * here keys on a bare xxhash64. */
  def countOperatorExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // r18 (ADVICE): match the fan-out's EXACT shape — a single
    // pmod(xxhash64(col), lit) partition expression — instead of any
    // expression merely containing "xxhash64", so a future genuine
    // operator shuffle keyed on an xxhash64-derived salt is still
    // counted by the plan gates.
    def isScanFanout(s: ShuffleExchangeLike): Boolean =
      s.outputPartitioning match {
        case h: HashPartitioning if h.expressions.length == 1 =>
          h.expressions.head match {
            case org.apache.spark.sql.catalyst.expressions.Pmod(
                org.apache.spark.sql.catalyst.expressions.XxHash64(args, _),
                org.apache.spark.sql.catalyst.expressions.Literal(_, _), _) =>
              args.length == 1 &&
                args.head.isInstanceOf[
                  org.apache.spark.sql.catalyst.expressions.Attribute]
            case _ => false
          }
        case _ => false
      }
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case s: ShuffleExchangeLike if !isScanFanout(s) => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Render the FULL final physical plan as text, descending through AQE
    * wrappers and materialized query stages (whose default toString elides
    * their subtree) — the observable for plan-shape assertions like "this
    * subtree is a ReusedExchange" or "no join on column X survived". */
  def fullPlanString(df: DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      sb.append("  " * depth).append(p.nodeName).append(' ')
        .append(p.simpleStringWithNodeId()).append('\n')
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(df.queryExecution.executedPlan, 0)
    sb.toString
  }
}
