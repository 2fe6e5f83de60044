package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Schema evolution for a parquet table — the Pinot add-new-column
  * semantics (Pinot schema evolution: a dimension/metric added to a
  * live table gets a DEFAULT on every segment sealed before the
  * change; old segments are NEVER rewritten, reads fill the default
  * at query time, segments written after the change carry real
  * values).
  *
  * Why a registry and not `mergeSchema`: Spark's mergeSchema option
  * reconciles schemas by reading EVERY file's footer — a full
  * metadata sweep per query, unusable over millions of segments. Here
  * the authoritative schema lives in ONE versioned file under the
  * table root (`_schema.v<N>`, atomic create, max version wins — the
  * same monotonic-version discipline StateCompactor's generations use),
  * so a read costs one small-file fetch regardless of table size, and
  * evolution is one metadata write: no data file is touched, ever.
  *
  * Defaults are stored WITH the schema (column → literal string, cast
  * to the column type at read), so every reader agrees on what an
  * absent column means — the column is physically null in
  * pre-evolution files (parquet readers return null for fields the
  * file lacks when an explicit read schema is given) and
  * [[read]] coalesces it to the registered default.
  *
  * Underscore-prefixed registry files are invisible to parquet
  * directory reads, like every sidecar here ([[graft.serving
  * .EraseStage]] stages, leases, replica manifests).
  */
object Evolve {

  /** [[conform]]'s refusal — a frame structurally incompatible with
    * the registered schema (extra columns, or a column whose type
    * drifted so a cast would corrupt). A DEDICATED type so callers
    * that must tolerate exactly this (a [[graft.serving.Tiered]]
    * absorb tick behind a fleet-ahead producer) can, while genuine
    * `IllegalArgumentException`s keep propagating.
    */
  final class SchemaDriftException(msg: String)
    extends IllegalArgumentException(msg)

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versions(spark: SparkSession, path: String): Seq[(Int, Path)] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("_schema.v"))
      .flatMap(p => p.getName.stripPrefix("_schema.v").toIntOption.map(_ -> p))
      .sortBy(_._1)
  }

  private def write(spark: SparkSession, path: String, version: Int,
      schema: StructType, defaults: Map[String, String]): Unit = {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val defaultsJson = org.json4s.jackson.Serialization.write(defaults)
    val json = s"""{"schema":${schema.json},"defaults":$defaultsJson}"""
    // atomic create: the version file either exists completely or not
    // at all; two racers on the same N — excluded by the lease anyway
    // — would have the second create fail loudly
    val out = fs(spark, path).create(
      new Path(s"$path/_schema.v$version"), false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def parseVersion(spark: SparkSession, path: String,
      p: Path): (StructType, Map[String, String]) = {
    val in = fs(spark, path).open(p)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    import org.json4s.DefaultFormats
    implicit val fmt: org.json4s.Formats = DefaultFormats
    val schemaJson = org.json4s.jackson.JsonMethods.compact(parsed \ "schema")
    val defaults = (parsed \ "defaults").extract[Map[String, String]]
    (DataType.fromJson(schemaJson).asInstanceOf[StructType], defaults)
  }

  // Registry fetches CACHE in-process (the Pinot broker schema-cache
  // analog): a serving read through the registry costs zero FS
  // round-trips between evolutions instead of one listing + one fetch
  // per query. Every in-process evolution (register/addColumn/
  // widenColumn) invalidates; a FOREIGN process's evolution is picked
  // up after the TTL (`graft.evolve.cache.ms`, 0 disables caching) —
  // schema changes are operator-grain events, and the stale window is
  // bounded and read-only.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, (Int, StructType, Map[String, String]))]()

  private def cacheKey(spark: SparkSession, path: String): String =
    fs(spark, path).makeQualified(new Path(path)).toString

  private def invalidate(spark: SparkSession, path: String): Unit = {
    schemaCache.remove(cacheKey(spark, path))
    // an evolution changes what a registry-aware read RETURNS without
    // touching any data file, so frame caches keyed on the root must
    // drop too (no-op for roots nothing has cached)
    graft.serving.RootCache.invalidate(spark, path)
  }

  private def load(spark: SparkSession, path: String): (Int, StructType, Map[String, String]) = {
    val ttl = spark.conf.get("graft.evolve.cache.ms", "30000").toLong
    val key = cacheKey(spark, path)
    val cached = Option(schemaCache.get(key))
      .filter { case (at, _) =>
        ttl > 0 && System.currentTimeMillis() - at <= ttl
      }
    cached.map(_._2).getOrElse {
      val vs = versions(spark, path)
      require(vs.nonEmpty, s"no registered schema under $path — Evolve.register first")
      val (n, p) = vs.last
      val (schema, defaults) = parseVersion(spark, path, p)
      val loaded = (n, schema, defaults)
      if (ttl > 0)
        schemaCache.put(key, (System.currentTimeMillis(), loaded))
      loaded
    }
  }

  /** Register the table's initial authoritative schema (version 1).
    * Returns true when this call created the registry. A root that
    * ALREADY carries a registry is a no-op (false) when the schema
    * being registered matches ANY registered version — so re-running
    * an init script stays idempotent whether it carries the original
    * base schema (= v1) or the current evolved one (= vN) — but a
    * schema matching NO version refuses loudly: silently keeping the
    * old registry (the pre-round-14 behavior) gave a caller that
    * typo'd a root path no signal at all, and every later read would
    * fill the wrong defaults.
    */
  def register(spark: SparkSession, path: String,
      schema: StructType): Boolean =
    graft.serving.Lease.withLease(spark, path, "evolve") {
      invalidate(spark, path)
      val vs = versions(spark, path)
      if (vs.isEmpty) {
        write(spark, path, 1, schema, Map.empty)
        true
      } else {
        val known = vs.map { case (_, p) => parseVersion(spark, path, p)._1 }
        require(known.exists(sameShape(_, schema)),
          s"$path already carries a schema registry (v${vs.last._1}) and " +
            s"the schema being registered matches none of its versions — " +
            s"evolve with addColumn, or point register at the intended " +
            s"root.\n  current:   ${known.last.simpleString}\n" +
            s"  attempted: ${schema.simpleString}")
        false
      }
    }

  /** Same (name, type) columns in the same order, IGNORING
    * nullability and field metadata: the idempotent-register check
    * must not refuse an init re-run just because one build derived
    * the schema from `toDF` (primitives nullable=false) and the next
    * from a parquet read-back (everything nullable=true) — same
    * logical table either way.
    */
  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.length == b.fields.length &&
      a.fields.zip(b.fields).forall { case (fa, fb) =>
        fa.name == fb.name &&
          fa.dataType.catalogString == fb.dataType.catalogString
      }

  /** Add a column with a default: one metadata write (version N+1),
    * zero data files touched. Refuses a name the schema already has —
    * type changes are a different operation with different hazards,
    * not a silent overwrite — and a default that does not cast to the
    * column type (a typo'd default would otherwise become a silent
    * NULL on every pre-evolution row, violating the registry's whole
    * contract).
    */
  def addColumn(spark: SparkSession, path: String, field: StructField,
      default: String): Unit =
    graft.serving.Lease.withLease(spark, path, "evolve") {
      invalidate(spark, path) // mutators read the registry FRESH
      val (n, schema, defaults) = load(spark, path)
      require(!schema.fieldNames.contains(field.name),
        s"column ${field.name} already exists in $path schema v$n")
      // NonFatal, not a named-exception list: under ANSI mode a bad
      // default can surface as SparkDateTimeException /
      // SparkArithmeticException (RuntimeExceptions outside the old
      // SparkException/IllegalArgument pair) — every cast failure
      // must map to the curated refusal below, not escape raw
      val castsToType =
        try !spark.range(1)
          .select(lit(default).cast(field.dataType)).head().isNullAt(0)
        catch { case scala.util.control.NonFatal(_) => false }
      require(castsToType,
        s"default '$default' does not cast to ${field.dataType.sql} " +
          s"for column ${field.name} — it would read as NULL (or fail " +
          "every read under ANSI), not as the default")
      write(spark, path, n + 1, StructType(schema.fields :+ field),
        defaults + (field.name -> default))
      invalidate(spark, path) // load above re-cached version n
    }

  /** Lossless numeric widenings a registry accepts (Pinot's add-
    * column story allows the same): a physical value of the narrower
    * type always represents exactly in the wider one.
    */
  private val widenings: Set[(String, String)] = Set(
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"), ("int", "double"), ("float", "double"))

  private def isWidening(from: DataType, to: DataType): Boolean =
    widenings((from.catalogString, to.catalogString))

  /** WIDEN a column's type — the second evolution a live table
    * eventually needs (the first being [[addColumn]]): a metric that
    * outgrows its type (INT order counts crossing 2³¹, the
    * money-in-cents convention forcing INT→LONG) re-registers as the
    * wider type in one metadata write, version N+1, ZERO data files
    * rewritten — pre-widening files keep their narrow physical
    * encoding and the explicit-schema read upcasts them (parquet
    * type promotion, exact by [[widenings]] construction); files
    * written after the change carry the wide type natively. Only
    * lossless widenings are accepted: anything else is a rewrite, not
    * an evolution, and refuses loudly.
    */
  def widenColumn(spark: SparkSession, path: String, name: String,
      to: DataType): Unit =
    graft.serving.Lease.withLease(spark, path, "evolve") {
      invalidate(spark, path) // mutators read the registry FRESH
      val (n, schema, defaults) = load(spark, path)
      require(schema.fieldNames.contains(name),
        s"column $name does not exist in $path schema v$n — widenColumn " +
          "changes an existing column's type; addColumn adds one")
      val from = schema(name).dataType
      require(isWidening(from, to),
        s"${from.catalogString} -> ${to.catalogString} is not a lossless " +
          s"widening (allowed: ${widenings.toSeq.sorted.map {
            case (a, b) => s"$a->$b" }.mkString(", ")}) — a narrowing or " +
          "cross-kind change rewrites data; that is a different operation")
      write(spark, path, n + 1,
        StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f)),
        defaults)
      invalidate(spark, path)
    }

  /** Read through the registry: ONE schema fetch (max version wins),
    * explicit-schema parquet read (absent columns come back null from
    * pre-evolution files — no footer sweep), defaults filled. Works
    * on flat and partition-discovered layouts alike: a partition
    * column present in the registered schema is matched by name.
    *
    * Null semantics are Pinot's defaultNullValue, deliberately: the
    * default applies to EVERY null in an evolved column — absent
    * (pre-evolution file) and explicitly-stored null alike. An
    * evolved column therefore cannot carry SQL NULL as a value;
    * callers that need a distinguishable missing marker should make
    * it part of the default's domain (e.g. -1), exactly as they
    * would in Pinot.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readAt(spark, path, path)

  /** [[read]] with the registry and the data under DIFFERENT roots —
    * for multi-directory layouts sharing one schema (a
    * [[graft.serving.Tiered]] root holds the registry once; hot and
    * cold both read through it).
    */
  def readAt(spark: SparkSession, registryPath: String,
      dataPath: String): DataFrame = {
    val (_, schema, defaults) = load(spark, registryPath)
    val raw = spark.read.schema(schema).parquet(dataPath)
    defaults.foldLeft(raw) { case (df, (name, dflt)) =>
      val t = schema(name).dataType
      df.withColumn(name, coalesce(col(name), lit(dflt).cast(t)))
    }
  }

  /** Conform an already-loaded frame to the registered schema:
    * columns the frame lacks are added (as the registered default),
    * nulls in evolved columns fill with their defaults, and the
    * column order is the registry's — so frames from different epochs
    * union cleanly. The frame-level twin of [[readAt]] for rows that
    * arrive as DataFrames rather than files (e.g. a
    * [[graft.serving.Tiered]] landing batch being folded into a
    * registered table). A column the frame carries that the registry
    * LACKS refuses loudly: silently dropping it would permanently
    * discard data from producers that rolled out ahead of the
    * registry's addColumn — the operator must evolve the registry
    * first, then the same rows conform cleanly.
    */
  def conform(spark: SparkSession, registryPath: String,
      df: DataFrame): DataFrame = {
    val (n, schema, defaults) = load(spark, registryPath)
    val extra = df.columns.toSet -- schema.fieldNames.toSet
    if (extra.nonEmpty) throw new SchemaDriftException(
      s"frame carries columns ${extra.toSeq.sorted.mkString(", ")} that " +
        s"schema registry v$n at $registryPath lacks — run " +
        "Evolve.addColumn for them first; conforming would silently " +
        "DROP their values")
    val cols = schema.fields.map { f =>
      val base =
        if (df.columns.contains(f.name)) {
          // TYPE drift refuses as loudly as extra columns do: a
          // column whose arriving type no longer matches the
          // registered one (producer changed long→string, say) would
          // cast to NULL and then coalesce-fill with the registered
          // default — real values silently replaced. Only the same
          // type (the sameShape comparison) or a registered-direction
          // lossless widening (pre-widenColumn producers still
          // landing the narrow type) casts.
          val ft = df.schema(f.name).dataType
          if (ft.catalogString != f.dataType.catalogString &&
              !isWidening(ft, f.dataType))
            throw new SchemaDriftException(
              s"column ${f.name} arrives as ${ft.catalogString} but " +
                s"registry v$n at $registryPath declares " +
                s"${f.dataType.catalogString} — a lossy cast would " +
                "corrupt values into defaults; evolve the registry " +
                "(or fix the producer) first")
          col(f.name).cast(f.dataType)
        } else lit(null).cast(f.dataType)
      defaults.get(f.name) match {
        case Some(d) => coalesce(base, lit(d).cast(f.dataType)).as(f.name)
        case None => base.as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Whether `path` carries a schema registry. */
  def hasRegistry(spark: SparkSession, path: String): Boolean =
    versions(spark, path).nonEmpty

  /** Current schema version (specs / operational probes). */
  def currentVersion(spark: SparkSession, path: String): Int =
    load(spark, path)._1

  /** Current authoritative schema (max version wins). */
  def registeredSchema(spark: SparkSession, path: String): StructType =
    load(spark, path)._2
}
