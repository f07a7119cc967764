package graft

import org.apache.spark.sql.functions._
import graft.operators.Bucketing

class BucketingSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle; plain tables do shuffle") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val li = s.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val or = s.read.parquet("/root/testdata/sf0.001/orders.parquet")

      // baseline: plain join shuffles both sides
      val plain = li.join(or, li("l_orderkey") === or("o_orderkey"))
        .groupBy("o_orderstatus").count()
      plain.collect()
      assert(Bucketing.countExchanges(plain) >= 2)

      // bucketed: co-located join, no Exchange under the join
      Bucketing.writeBucketed(li, "li_b", "l_orderkey", buckets = 4,
        sortBy = Some("l_orderkey"))
      Bucketing.writeBucketed(or, "or_b", "o_orderkey", buckets = 4,
        sortBy = Some("o_orderkey"))
      val joined = Bucketing.bucketedJoin(s, "li_b", "or_b",
        "l_orderkey", "o_orderkey")
      val n = joined.count()
      assert(n == li.count()) // every lineitem has its order
      assert(Bucketing.countExchanges(joined) == 0)
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.sql("DROP TABLE IF EXISTS li_b")
      s.sql("DROP TABLE IF EXISTS or_b")
    }
  }

  test("appendBucketed refuses a missing table — append-before-build must " +
    "fail loudly, not register an increment-only index") {
    val s = spark
    val df = s.read.parquet("/root/testdata/sf0.001/region.parquet")
    val e = intercept[IllegalArgumentException] {
      Bucketing.append(df, "no_such_bucketed_table")
    }
    assert(e.getMessage.contains("does not exist"))
    assert(!s.catalog.tableExists("no_such_bucketed_table"),
      "the refused append must not have created the table")
  }

  test("a rewrite that fails before the swap keeps the old table: same " +
    "rows, bucket spec and graft.* properties; no sibling table or " +
    "warehouse dir is left") {
    val s = spark
    val t = "bk_rw_fail"
    val df = s.range(0, 20).select(col("id").as("k"),
      (col("id") * 10).as("v"))
    Bucketing.writeBucketed(df, t, "k", buckets = 4, sortBy = Some("v"))
    Bucketing.setTableParams(s, t, Map("geometry" -> "7"))
    def meta = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    def rows = s.table(t).collect().map(_.toString).sorted.toSeq
    def graftProps = meta.properties.filter(_._1.startsWith("graft."))
    val (rows0, spec0, props0) = (rows, meta.bucketSpec, graftProps)
    try {
      intercept[Exception] {
        Bucketing.rewrite(s, t)(_.filter(
          when(col("k") === 13, raise_error(lit("boom")))
            .otherwise(lit(true))))
      }
      assert(rows === rows0)
      assert(meta.bucketSpec === spec0 && spec0.nonEmpty)
      assert(graftProps === props0 && props0 == Map("graft.geometry" -> "7"))
      val stray = s.catalog.listTables().collect().map(_.name)
        .filter(n => n.startsWith(t) && n != t)
      assert(stray.isEmpty, s"sibling tables left: ${stray.mkString(", ")}")
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val dirs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(wh).map(_.getPath.getName)
        .filter(n => n.startsWith(t) && n != t)
      assert(dirs.isEmpty, s"sibling dirs left: ${dirs.mkString(", ")}")
    } finally Bucketing.drop(s, t)
  }
}
