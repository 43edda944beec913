package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager, Timestamp}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Graft
import graft.expr.Exprs
import graft.io.Jdbc
import graft.model.User

/** The reference `main.py` run: RTDB export → field extraction →
  * transform → Auth enrichment → validation → existing keys → id
  * conflict resolution → isolated JDBC append keyed on email → CSV
  * error report → table stats, into an on-disk Derby table with the
  * reference DDL. `resync` preloads the table with snapshot N (the
  * generator's expected table) and runs snapshot N+1 against it. */
final class UsersWorkload(ctx: Ctx, resync: Boolean) extends Workload {
  import UsersWorkload._
  private val spark = ctx.spark
  private val url = s"jdbc:derby:${ctx.workDir("derby")}/db;create=true"
  private val exportPath = ctx.dataFile("export.json")
  private val errorsPath = ctx.workDir("out") + "/errors"
  private val expected: Map[String, com.fasterxml.jackson.databind.JsonNode] =
    Files.readAllLines(Paths.get(ctx.dataFile("expected.jsonl"))).asScala
      .map(Json.read).map(n => n.get("email").asText() -> n).toMap
  /** The seeded sample of expected rows compared field by field. */
  private val sample: Seq[String] = {
    val r = new scala.util.Random(ctx.seed)
    r.shuffle(expected.keys.toSeq.sorted).take(SampleSize)
  }
  private var sampled = 0L
  private var matched = 0L
  private var inserted = 0L
  private var baseRows = 0L
  private var planProbeS = 0.0
  private var appendConflicts = 0L

  val records: Long = ctx.metaLong("children")
  val spanNames: Seq[String] = Seq("sources.read", "model.transform", "ops.enrich",
    "ops.validate", "jdbc.read_keys", "ops.resolve", "jdbc.append", "tables.export",
    "jdbc.stats")

  private def conn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }
  private def exec(sql: String): Unit = conn(_.createStatement().execute(sql))
  private def scalar(sql: String): Long = conn { c =>
    val rs = c.createStatement().executeQuery(sql)
    rs.next(); rs.getLong(1)
  }
  private def tableExists(name: String): Boolean = conn { c =>
    val rs = c.getMetaData.getTables(null, null, name.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  def touch(): Unit = {
    DerbyVarchar.register()
    if (!tableExists(Table)) exec(s"CREATE TABLE $Table ($Ddl)")
    scalar(s"SELECT COUNT(*) FROM $Table")
  }

  override def init(): Unit = if (resync) {
    val base = Files.readAllLines(Paths.get(ctx.dataFile("base.jsonl"))).asScala.map(Json.read)
    baseRows = base.size
    if (!tableExists(BaseIds) || scalar(s"SELECT COUNT(*) FROM $BaseIds") != baseRows) {
      if (tableExists(BaseIds)) exec(s"DROP TABLE $BaseIds")
      exec(s"DROP TABLE $Table")
      exec(s"CREATE TABLE $Table ($Ddl)")
      exec(s"CREATE TABLE $BaseIds (id VARCHAR(64) PRIMARY KEY)")
      conn { c =>
        c.setAutoCommit(false)
        val ins = c.prepareStatement(s"INSERT INTO $Table (id, email, emailVerified, provider, " +
          "profilePic, phoneVerified, name, city, photo, createdAt, updatedAt, status, interests, " +
          "lastConnexion) VALUES (?, ?, ?, ?, ?, false, ?, ?, ?, ?, ?, ?, ?, ?)")
        val ids = c.prepareStatement(s"INSERT INTO $BaseIds VALUES (?)")
        base.zipWithIndex.foreach { case (e, i) =>
          ins.setString(1, e.get("id").asText()); ins.setString(2, e.get("email").asText())
          ins.setBoolean(3, e.get("emailVerified").asBoolean()); ins.setString(4, e.get("provider").asText())
          ins.setString(5, text(e, "profilePic")); ins.setString(6, text(e, "name"))
          ins.setString(7, text(e, "city")); ins.setString(8, text(e, "photo"))
          ins.setTimestamp(9, ts(e, "createdAt")); ins.setTimestamp(10, ts(e, "updatedAt"))
          ins.setString(11, e.get("status").asText()); ins.setString(12, text(e, "interests"))
          ins.setTimestamp(13, ts(e, "lastConnexion"))
          ins.addBatch()
          ids.setString(1, e.get("id").asText()); ids.addBatch()
          if (i % 5000 == 4999) { ins.executeBatch(); ids.executeBatch() }
        }
        ins.executeBatch(); ids.executeBatch(); c.commit()
      }
    }
  }

  /** Untimed reset: an empty target for the full load; snapshot N for
    * the re-sync (drop what a pass inserted, reload if anything else
    * changed). */
  override def prepare(): Unit = {
    Ctx.deleteTree(errorsPath)
    if (!resync) {
      exec(s"DROP TABLE $Table")
      exec(s"CREATE TABLE $Table ($Ddl)")
    } else {
      exec(s"DELETE FROM $Table WHERE id NOT IN (SELECT id FROM $BaseIds)")
      if (scalar(s"SELECT COUNT(*) FROM $Table") != baseRows) {
        exec(s"DROP TABLE $BaseIds")
        init()
      }
    }
  }

  /** Field extraction: every alias the transform knows, as raw strings
    * (numbers, booleans and arrays keep their JSON text); list-valued
    * interests become the comma string the transform splits. */
  private def extract(raw: DataFrame): DataFrame = {
    val schema = StructType(Fields.map(StructField(_, StringType)))
    raw.select(col("id"), col("uid"), from_json(col("json"), schema).as("j"))
      .select(col("id") +: col("uid") +: Fields.map(f => col(s"j.$f").as(f)): _*)
      .withColumn("interests", when(col("interests").startsWith("["),
        array_join(from_json(col("interests"), ArrayType(StringType)), ","))
        .otherwise(col("interests")))
  }

  def pass(t: Tracer): Unit = {
    val raw = t.span("sources.read") {
      val df = Graft.readRtdbSharded(spark, exportPath, ctx.cpus)
      if (t.enabled) planProbeS = Plans.planInputs(df)
      t.materialize(df)
    }()
    val users = t.frame("model.transform")(Graft.transformUsers(extract(raw), keepInvalidEmails = true))
    // the flagged frame feeds both the load and the error report, so the
    // job keeps it (the reference holds its DataFrame in memory likewise)
    val enriched = t.frame("ops.enrich")(Graft.enrichFromAuth(users,
      spark.read.parquet(ctx.dataFile("auth.parquet")))).persist()
    try {
      val (valid, invalid) = t.span("ops.validate") {
        val (v, i) = Graft.validateSplit(enriched, User.checks)
        (t.materialize(v), t.materialize(i))
      }()
      val existing = t.frame("jdbc.read_keys")(Jdbc.readKeys(spark, url, Table, "id"))
      val resolved = t.frame("ops.resolve")(Graft.resolveIdConflicts(
        valid.select(Columns.map(c =>
          if (c == "interests") Exprs.pgArrayLiteral(col(c)).as(c) else col(c)): _*),
        existing, "id"))
      val (n, conflicts) = t.span("jdbc.append")(
        Jdbc.appendIsolated(resolved, url, Table, "email"))(_._1)
      inserted = n
      if (t.enabled) appendConflicts = t.bookkeeping(conflicts.count())
      val report = invalid.select(col("id"), col("email"),
          array_join(col("errors"), ";").as("error"))
        .unionByName(conflicts.select(col("id"), col("email"), col("error")))
      t.span("tables.export")(Graft.writeCsv(report, errorsPath))(_ =>
        spark.read.option("header", "true").csv(errorsPath).count())
      t.span("jdbc.stats")(Jdbc.tableStats(spark, url, Table))(_._1)
    } finally enriched.unpersist()
  }

  override def extras(t: Tracer): Map[String, Double] = {
    val tasks = t.stats("sources.read").taskMs.sorted
    val skew = if (tasks.isEmpty) 0.0
      else tasks.last.toDouble / math.max(1L, tasks(tasks.size / 2)).toDouble
    Map(
      "sources.read.plan_s" -> planProbeS,
      "sources.read.task_skew" -> skew,
      "model.transform.spill_bytes" -> t.stats("model.transform").spillBytes.toDouble,
      "jdbc.append.rows_per_s" -> inserted / math.max(1e-9, t.seconds("jdbc.append")),
      "jdbc.append.conflicts" -> appendConflicts.toDouble)
  }

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val meta = ctx.meta
    val rows = scalar(s"SELECT COUNT(*) FROM $Table")
    val distinctIds = scalar(s"SELECT COUNT(DISTINCT id) FROM $Table")
    if (distinctIds != rows) errs += s"ids not unique: $distinctIds distinct of $rows rows"
    val byError = spark.read.option("header", "true").csv(errorsPath)
      .groupBy(col("error")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val conflicts = byError.getOrElse("key already exists", 0L) +
      byError.getOrElse("duplicate key within batch", 0L)
    val invalid = byError.getOrElse("missing_email", 0L)
    if (invalid != meta.get("invalid").asLong())
      errs += s"invalid rows: got $invalid, generator expects ${meta.get("invalid").asLong()}"
    if (!resync) {
      val want = meta.get("expected_rows").asLong()
      if (rows != want) errs += s"table rows: got $rows, generator expects $want"
      if (inserted != want) errs += s"inserted: got $inserted, generator expects $want"
      if (conflicts != 0) errs += s"conflicts: got $conflicts on an empty table"
    } else {
      val wantIns = meta.get("expected_inserted").asLong()
      val wantConf = meta.get("expected_conflicts").asLong()
      if (inserted != wantIns) errs += s"inserted: got $inserted, generator expects $wantIns"
      if (conflicts != wantConf) errs += s"conflicts: got $conflicts, generator expects $wantConf"
      if (rows != baseRows + wantIns) errs += s"table rows: got $rows, expected ${baseRows + wantIns}"
    }
    val bad = compareSample()
    if (bad.nonEmpty) errs += s"${bad.size} of ${sample.size} sampled rows differ, e.g. ${bad.head}"
    errs.result()
  }

  /** Field-by-field comparison of the sampled expected rows with the
    * table; returns one message per differing row. */
  private def compareSample(): Seq[String] = conn { c =>
    val ps = c.prepareStatement(s"SELECT id, email, emailVerified, provider, name, city, status, " +
      s"createdAt, updatedAt, lastConnexion, interests, photo, profilePic FROM $Table WHERE email = ?")
    val bad = sample.flatMap { email =>
      val e = expected(email)
      ps.setString(1, email)
      val rs = ps.executeQuery()
      val diff =
        if (!rs.next()) Some("missing")
        else {
          def ms(i: Int): String = Option(rs.getTimestamp(i)).map(_.getTime.toString).orNull
          val got = Seq(
            "id" -> rs.getString(1), "email" -> rs.getString(2),
            "emailVerified" -> rs.getBoolean(3).toString, "provider" -> rs.getString(4),
            "name" -> rs.getString(5), "city" -> rs.getString(6), "status" -> rs.getString(7),
            "createdAt" -> ms(8), "updatedAt" -> ms(9), "lastConnexion" -> ms(10),
            "interests" -> rs.getString(11), "photo" -> rs.getString(12),
            "profilePic" -> rs.getString(13))
          val rewritten = e.has("rewritten") && e.get("rewritten").asBoolean()
          got.collectFirst {
            case ("id", v) if rewritten && (v == null || v == e.get("id").asText() || v.length != 20) =>
              s"id $v was not rewritten"
            case (k, v) if !(k == "id" && rewritten) && v != text(e, k) => s"$k: got $v want ${text(e, k)}"
          }
        }
      rs.close()
      diff.map(d => s"$email: $d")
    }
    sampled += sample.size
    matched += sample.size - bad.size
    bad
  }

  def corrupt(): Unit =
    exec(s"UPDATE $Table SET city = 'Atlantis' WHERE email = '${sample.head}'")

  def quality(): Double = if (sampled == 0) 0.0 else matched.toDouble / sampled
}

/** Spark's Derby dialect binds string NULLs as CLOB, which Derby
  * refuses for the VARCHAR columns of the reference DDL (a CLOB column
  * could not carry the UNIQUE email key). The benchmark's target
  * therefore maps strings to VARCHAR, as a Postgres target's TEXT
  * mapping would do. */
object DerbyVarchar {
  import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
  private lazy val registered = JdbcDialects.registerDialect(new JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby:")
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(JdbcType("VARCHAR(1024)", java.sql.Types.VARCHAR))
      case _ => None
    }
  })
  def register(): Unit = registered
}

object UsersWorkload {
  val Table = "users"
  val BaseIds = "base_ids"
  val SampleSize = 400
  /** The reference DDL (postgres_loader.py): id primary key, email
    * unique and required, interests as the Postgres array literal. */
  val Ddl: String = "id VARCHAR(64) PRIMARY KEY, email VARCHAR(255) NOT NULL UNIQUE, " +
    "emailVerified BOOLEAN, password VARCHAR(255), uid VARCHAR(64), provider VARCHAR(32), " +
    "profilePic VARCHAR(512), phoneNumber VARCHAR(64), phoneVerified BOOLEAN, " +
    "name VARCHAR(255), city VARCHAR(255), birthdate TIMESTAMP, photo VARCHAR(512), " +
    "createdAt TIMESTAMP NOT NULL, updatedAt TIMESTAMP NOT NULL, status VARCHAR(16), " +
    "interests VARCHAR(1024), lastConnexion TIMESTAMP"
  val Columns: Seq[String] = Seq("id", "email", "emailVerified", "password", "uid", "provider",
    "profilePic", "phoneNumber", "phoneVerified", "name", "city", "birthdate", "photo",
    "createdAt", "updatedAt", "status", "interests", "lastConnexion")
  /** Every raw key the export may carry that the alias table reads. */
  val Fields: Seq[String] = Seq("email", "emailVerified", "email_verified", "password",
    "provider", "profilePic", "profile_pic", "phoneNumber", "phone_number", "phoneVerified",
    "phone_verified", "name", "displayName", "city", "birthDate", "birth_date", "photo",
    "photoURL", "createdAt", "created_at", "updatedAt", "updated_at", "status", "interests",
    "lastConnexion", "last_connexion")

  private def text(e: com.fasterxml.jackson.databind.JsonNode, k: String): String = {
    val v = e.get(k)
    if (v == null || v.isNull) null else v.asText()
  }
  private def ts(e: com.fasterxml.jackson.databind.JsonNode, k: String): Timestamp = {
    val v = e.get(k)
    if (v == null || v.isNull) null else new Timestamp(v.asLong())
  }
}
