package graft.io

import java.sql.{Connection, DriverManager}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** JDBC source/sink utilities — the reference's Postgres layer
  * (postgres_loader.py, sql_extraction.py) re-expressed Spark-first.
  * The reference inserts row-by-row with one transaction per row
  * (postgres_loader.py:297-298) and scans with driver-side cursors; here
  * reads are partition-parallel `spark.read.jdbc` and writes are
  * batched partition-parallel appends. Statement-level utilities (DDL,
  * upsert, delete) run on the driver — they're control-plane, not data-
  * plane. Tested against in-memory Derby (JdbcSpec). */
object Jdbc {

  def props(extra: (String, String)*): Properties = {
    val p = new Properties()
    extra.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** S9 — full-table scan (sql_extraction.py:38-82). For big tables
    * pass a partition column so the scan parallelizes across executors. */
  def readTable(spark: SparkSession, url: String, table: String,
                p: Properties = props(),
                partitionCol: Option[String] = None,
                lowerBound: Long = 0, upperBound: Long = 1L << 20,
                numPartitions: Int = 8): DataFrame =
    partitionCol match {
      case Some(c) =>
        spark.read.jdbc(url, table, c, lowerBound, upperBound, numPartitions, p)
      case None => spark.read.jdbc(url, table, p)
    }

  /** S10 — ad-hoc SQL pushed to the database (sql_extraction.py:84-105):
    * the query runs remotely; only its result crosses the wire. */
  def readQuery(spark: SparkSession, url: String, sql: String,
                p: Properties = props()): DataFrame =
    spark.read.jdbc(url, s"($sql) q", p)

  /** S11 — ordered scan (sql_extraction.py:205-250). Note a global
    * ORDER BY only survives into Spark when read single-partition;
    * partitioned reads re-order per partition (document, don't hide). */
  def readOrdered(spark: SparkSession, url: String, table: String,
                  orderCol: String, p: Properties = props()): DataFrame =
    readQuery(spark, url, s"SELECT * FROM $table ORDER BY $orderCol", p)

  /** S13 — existing-keys snapshot feeding the J2 conflict join
    * (postgres_loader.py:54-86): project the key column only, so the
    * wire cost is one column, then broadcast it into the join. */
  def readKeys(spark: SparkSession, url: String, table: String, keyCol: String,
               p: Properties = props()): DataFrame =
    readQuery(spark, url, s"SELECT $keyCol FROM $table", p)

  /** S15 — sample + full analysis fetch (sql_extraction.py:331-374).
    * The reference fetches the table twice; we fetch once and cache —
    * the sample is a limit over the cached frame. */
  def sampleAndFull(spark: SparkSession, url: String, table: String, n: Int,
                    p: Properties = props()): (DataFrame, DataFrame) = {
    val full = readTable(spark, url, table, p).cache()
    (full.limit(n), full)
  }

  /** K3 — batch append (replaces the reference's per-row transactions,
    * postgres_loader.py:293-326): partition-parallel, batched inserts. */
  def append(df: DataFrame, url: String, table: String,
             p: Properties = props(), batchSize: Int = 10000): Unit = {
    p.setProperty("batchsize", batchSize.toString)
    df.write.mode("append").jdbc(url, table, p)
  }

  /** K3 error-isolated append (postgres_loader.py:293-326, :550-575).
    * The reference survives per-row DB errors by inserting one
    * transaction per row; the Spark-first split computes the dominant
    * failure class — key conflicts, both against the table and within
    * the batch — set-at-a-time BEFORE any insert. Good rows still land
    * as batched partition-parallel appends; bad rows come back as an
    * error-channel DataFrame (original columns + `error`). The
    * pre-flight labels each row in one broadcast left join against the
    * table's distinct keys, so only the key column crosses the wire.
    * Non-key violations (races, check constraints) are the province of
    * `appendRowIsolated`. Returns (insertedCount, conflicts). */
  def appendIsolated(df: DataFrame, url: String, table: String, keyCol: String,
                     p: Properties = props(), batchSize: Int = 10000): (Long, DataFrame) = {
    val existing = readQuery(df.sparkSession, url, s"SELECT DISTINCT $keyCol FROM $table", p)
      .toDF(keyCol).select(col(keyCol).cast(df.schema(keyCol).dataType), lit(true).as("__hit"))
    // deterministic keep-first within the batch: order by every column
    val w = Window.partitionBy(col(keyCol)).orderBy(df.columns.toIndexedSeq.map(col): _*)
    val labelled = df.withColumn("__rn", row_number().over(w))
      .join(broadcast(existing), Seq(keyCol), "left_outer")
      .select(df.columns.map(col) :+
        when(col("__rn") > 1, lit("duplicate key within batch"))
          .when(col("__hit"), lit("key already exists")).as("error"): _*)
      // one eager snapshot feeds the write, the count and the report, so
      // neither the JDBC key read nor a lazy `df` (sample/limit upstream,
      // or a read of this very table) re-evaluates after the append and
      // flags our own rows or disagrees with the rows written
      .localCheckpoint(true)
    val clean = labelled.filter(col("error").isNull).drop("error")
    append(clean, url, table, p, batchSize)
    (clean.count(), labelled.filter(col("error").isNotNull))
  }

  /** K3 per-row isolated append — the reference's exact semantics (one
    * transaction per row, postgres_loader.py:558-575) for failures the
    * set-based pre-flight can't predict. Each partition opens one
    * connection and inserts row by row under autocommit, emitting
    * (key, error) rows for failures instead of aborting the job.
    * Throughput is deliberately traded for isolation — keep this off
    * the hot path and feed it only `appendIsolated`'s residue. */
  def appendRowIsolated(df: DataFrame, url: String, table: String,
                        keyCol: String, p: Properties = props()): DataFrame = {
    val names = df.schema.fieldNames
    val sql = s"INSERT INTO $table (${names.mkString(", ")}) " +
      s"VALUES (${names.map(_ => "?").mkString(", ")})"
    val keyIdx = df.schema.fieldIndex(keyCol)
    import df.sparkSession.implicits._
    df.mapPartitions { rows =>
      val errs = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val c = DriverManager.getConnection(url, p)
      try {
        val ps = c.prepareStatement(sql)
        rows.foreach { r =>
          try {
            names.indices.foreach(i => ps.setObject(i + 1, r.get(i).asInstanceOf[AnyRef]))
            ps.executeUpdate()
          } catch { case e: java.sql.SQLException =>
            errs += ((String.valueOf(r.get(keyIdx)), e.getMessage))
          }
        }
      } finally c.close()
      errs.iterator
      // eager checkpoint: the inserts are side effects, so the plan must
      // run exactly once — a recomputation would double-insert
    }.toDF(keyCol, "error").localCheckpoint(true)
  }

  private def withConn[A](url: String, p: Properties = props())(f: Connection => A): A = {
    val c = DriverManager.getConnection(url, p)
    try f(c) finally c.close()
  }

  /** K6 — batch SQL executor, one transaction, rollback on error
    * (sql_extraction.py:252-282). */
  def executeBatch(url: String, statements: Seq[String]): Unit =
    withConn(url) { c =>
      c.setAutoCommit(false)
      try {
        val st = c.createStatement()
        statements.foreach(st.execute)
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
    }

  /** K7 — DDL create-if-absent (postgres_loader.py:643-678). */
  def createTableIfAbsent(url: String, table: String, ddlBody: String,
                          p: Properties = props()): Unit =
    withConn(url, p) { c =>
      // identifier folding is engine-specific (Derby upcases, Postgres
      // downcases unquoted names) — probe all three renderings
      def found(n: String): Boolean = {
        val r = c.getMetaData.getTables(null, null, n, null)
        try r.next() finally r.close()
      }
      val exists = found(table) || found(table.toUpperCase) || found(table.toLowerCase)
      if (!exists) c.createStatement().execute(s"CREATE TABLE $table ($ddlBody)")
    }

  /** K4 — update by id with a dynamic SET clause, id immutable
    * (postgres_loader.py:368-403). */
  def updateById(url: String, table: String, idCol: String, id: Any,
                 sets: Seq[(String, Any)]): Int =
    if (sets.isEmpty) 0 // nothing to update (the reference's dynamic-SET no-op)
    else withConn(url) { c =>
      val clause = sets.map { case (k, _) => s"$k = ?" }.mkString(", ")
      val ps = c.prepareStatement(s"UPDATE $table SET $clause WHERE $idCol = ?")
      sets.zipWithIndex.foreach { case ((_, v), i) => ps.setObject(i + 1, v) }
      ps.setObject(sets.size + 1, id)
      ps.executeUpdate()
    }

  /** K5 — delete by id with rowcount (postgres_loader.py:405-424). */
  def deleteById(url: String, table: String, idCol: String, id: Any): Int =
    withConn(url) { c =>
      val ps = c.prepareStatement(s"DELETE FROM $table WHERE $idCol = ?")
      ps.setObject(1, id)
      ps.executeUpdate()
    }

  /** W2 pushed to the database — `cleanup_duplicates`
    * (postgres_loader.py:474-522): keep the newest row per key, delete
    * the rest, in the database itself. The reference loops per
    * duplicate value issuing one DELETE each; a single correlated
    * NOT-EXISTS-style DELETE lets the database do the whole cleanup in
    * one set-based pass. Ties on the timestamp break on the id (the
    * reference's LIMIT 1 ordering is nondeterministic on ties). Rows
    * with a NULL timestamp are never deleted (SQL three-valued logic);
    * returns the number of rows removed. */
  def deleteDuplicatesKeepNewest(url: String, table: String, keyCol: String,
                                 tsCol: String, idCol: String): Int =
    withConn(url) { c =>
      c.createStatement().executeUpdate(
        s"""DELETE FROM $table a WHERE EXISTS (
           |  SELECT 1 FROM $table b WHERE b.$keyCol = a.$keyCol
           |  AND (b.$tsCol > a.$tsCol
           |       OR (b.$tsCol = a.$tsCol AND b.$idCol > a.$idCol)))""".stripMargin)
    }

  /** S12/S14 — schema + stats probe (sql_extraction.py:107-135,
    * :284-329): column metadata via JDBC metadata, count pushed down. */
  def tableStats(spark: SparkSession, url: String, table: String,
                 p: Properties = props()): (Long, Seq[(String, String)]) = {
    // positional read: the alias's case depends on the engine's
    // identifier folding (Derby upcases, Postgres downcases)
    val cnt = readQuery(spark, url, s"SELECT count(*) AS c FROM $table", p)
      .collect()(0).get(0).asInstanceOf[Number].longValue()
    val cols = readTable(spark, url, table, p).schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString)
    (cnt, cols)
  }

  /** F13 — timestamped export paths (main.py:119-120). */
  def timestampedPath(prefix: String, suffix: String): String = {
    val ts = java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    s"${prefix}_$ts.$suffix"
  }
}
