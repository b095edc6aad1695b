package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

import graft.operators.{CodebookDecode, EavMelt, EntityMerge, FileSync}
import graft.pipeline._
import graft.sources.{ColSpec, DelimitedConfig, DelimitedSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A seeded CSR drop zone: three priority-ordered delimited sources with
  * different delimiters, `dd-MM-yyyy` dates and codebook-coded columns,
  * plus the plain-Scala truth of the observations the pipeline must stage
  * (priority merge → codebook labels → one observation per non-null cell).
  * Cells are raw strings; `null` is an empty field. */
final class CsrData(seed: Long, individuals: Int) {
  import CsrData._
  private val rnd = new SplittableRandom(seed)
  private val dmy = DateTimeFormatter.ofPattern("dd-MM-yyyy")

  private def name(): String = {
    val n = 2 + rnd.nextInt(2)
    val s = (0 until n).map(_ => Syllables(rnd.nextInt(Syllables.size))).mkString
    s.head.toUpper + s.tail
  }
  private def maybe(pNull: Double)(v: => String): String = if (rnd.nextDouble() < pNull) null else v
  private def date(fromYear: Int, years: Int): String =
    LocalDate.of(fromYear, 1, 1).plusDays(rnd.nextInt(years * 365).toLong).format(dmy)
  private def decimal(lo: Int, span: Int): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(lo + rnd.nextInt(span * 10) / 10.0))

  val extra: Int = individuals / 10
  val individualsRows: Array[Array[String]] = (1 to individuals).map { id =>
    Array(id.toString, maybe(0.03)(name()),
      maybe(0.02) { val u = rnd.nextInt(100); if (u < 49) "1" else if (u < 98) "2" else "9" },
      maybe(0.03)(date(1930, 80)), maybe(0.05)(decimal(40, 80)))
  }.toArray
  val registryRows: Array[Array[String]] = (1 to individuals + extra)
    .filter(id => id > individuals || rnd.nextDouble() < 0.6).map { id =>
      Array(id.toString, maybe(0.02)(name()), maybe(0.02)(Segments(rnd.nextInt(Segments.size))),
        maybe(0.02)(Seq("Y", "N", "U")(rnd.nextInt(3))), maybe(0.04)((150 + rnd.nextInt(50)).toString))
    }.toArray
  val labsRows: Array[Array[String]] = (1 to individuals + extra)
    .filter(_ => rnd.nextDouble() < 0.4).map { id =>
      Array(id.toString, maybe(0.02)(decimal(3, 12)), maybe(0.02)(date(2015, 8)), maybe(0.02)(name()))
    }.toArray

  /** The incremental edit: a seeded ~1% of the registry rows get a new
    * segment and height. */
  val editedRegistryRows: Array[Array[String]] = {
    val r = new SplittableRandom(seed ^ 0x5eed)
    registryRows.map { row =>
      if (r.nextDouble() >= 0.01) row
      else Array(row(0), row(1), Segments(r.nextInt(Segments.size)), row(3), (150 + r.nextInt(50)).toString)
    }
  }

  def sources(registry: Array[Array[String]]): Seq[(SourceSpec, Array[Array[String]])] = Seq(
    SourceSpec("individuals.csv", DelimitedConfig(";", header = true, columns = Seq(
      ColSpec("individual_id", "long"), ColSpec("name", "string"), ColSpec("sex", "string"),
      ColSpec("birth_date", "date", Some("dd-MM-yyyy")), ColSpec("weight", "double")))) -> individualsRows,
    SourceSpec("registry.csv", DelimitedConfig(",", header = true, columns = Seq(
      ColSpec("individual_id", "long"), ColSpec("name", "string"), ColSpec("segment", "string"),
      ColSpec("smoker", "string"), ColSpec("height", "double")))) -> registry,
    SourceSpec("labs.tsv", DelimitedConfig("\t", header = true, columns = Seq(
      ColSpec("individual_id", "long"), ColSpec("glucose", "double"),
      ColSpec("visit_date", "date", Some("dd-MM-yyyy")), ColSpec("name", "string")))) -> labsRows)

  /** Write the drop zone (each file with its `.sha1` companion). */
  def writeZone(dir: Path, registry: Array[Array[String]] = registryRows): Unit = {
    Files.createDirectories(dir)
    sources(registry).foreach { case (spec, rows) => writeSource(dir, spec, rows) }
  }

  def writeSource(dir: Path, spec: SourceSpec, rows: Array[Array[String]]): Unit = {
    val d = spec.cfg.delimiter
    val sb = new StringBuilder(spec.cfg.columns.map(_.name).mkString(d)).append('\n')
    rows.foreach { r => sb.append(r.map(c => if (c == null) "" else c).mkString(d)).append('\n') }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve(spec.fileName), bytes)
    Files.write(dir.resolve(spec.fileName + ".sha1"),
      s"${sha1(bytes)}  ${spec.fileName}\n".getBytes(StandardCharsets.UTF_8))
  }

  /** Expected staged observations: (entity_id, concept_cd) → value, where
    * numbers render as `Double.toString`, dates as ISO and text as decoded
    * labels. */
  def truth(registry: Array[Array[String]]): Map[(String, String), String] = {
    val srcs = sources(registry).map { case (spec, rows) =>
      val idx = spec.cfg.columns.map(_.name).zipWithIndex.toMap
      (spec, idx, rows.map(r => r(0) -> r).toMap)
    }
    val ids = srcs.flatMap(_._3.keys).distinct
    val out = Map.newBuilder[(String, String), String]
    for (id <- ids; (attr, concept, kind) <- Concepts) {
      val winner = srcs.iterator.flatMap { case (spec, idx, rows) =>
        for (i <- idx.get(attr); r <- rows.get(id); v <- Option(r(i))) yield (spec, v)
      }.nextOption()
      winner.foreach { case (spec, raw) =>
        val v = kind match {
          case EavMelt.NumValue => raw.toDouble.toString
          case EavMelt.DateValue => LocalDate.parse(raw, dmy).toString
          case EavMelt.TextValue => Codebook.collectFirst {
            case (`attr`, `raw`, label) => label
          }.getOrElse(raw)
        }
        out += (id, concept) -> v
      }
    }
    out.result()
  }
}

object CsrData {
  val Syllables: IndexedSeq[String] =
    IndexedSeq("an", "bo", "ca", "de", "el", "fi", "go", "ha", "is", "jo", "ka", "li", "mo",
      "na", "or", "pe", "ra", "si", "to", "ul", "va", "wi", "xe", "yo", "za")
  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Attrs: Seq[String] =
    Seq("name", "sex", "birth_date", "weight", "segment", "smoker", "height", "glucose", "visit_date")
  val Concepts: Seq[(String, String, EavMelt.ValueKind)] = Seq(
    ("name", "Individual.name", EavMelt.TextValue),
    ("sex", "Individual.sex", EavMelt.TextValue),
    ("birth_date", "Individual.birth_date", EavMelt.DateValue),
    ("weight", "Individual.weight", EavMelt.NumValue),
    ("segment", "Individual.segment", EavMelt.TextValue),
    ("smoker", "Individual.smoker", EavMelt.TextValue),
    ("height", "Individual.height", EavMelt.NumValue),
    ("glucose", "Lab.glucose", EavMelt.NumValue),
    ("visit_date", "Lab.visit_date", EavMelt.DateValue))
  val Codebook: Seq[(String, String, String)] = Seq(
    ("sex", "1", "male"), ("sex", "2", "female"),
    ("smoker", "Y", "smoker"), ("smoker", "N", "non-smoker"))

  def sha1(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-1").digest(b).map("%02x".format(_)).mkString
}

/** The reference's own workload: `GraftPipeline` (sync → sources2csr →
  * csr2transmart → load → cache_rebuild) over a seeded CSR drop zone, with
  * lineage and the aggregate cache on. */
final class CsrEtl(root: Path, seed: Long, individuals: Int, rec: Record) extends Pipeline {
  import CsrData._
  private val tasks = Seq("sync", "sources2csr", "csr2transmart", "load", "cache_rebuild")
  private var data: CsrData = _
  private var truthCold: Map[(String, String), String] = _
  private var truthEdited: Map[(String, String), String] = _

  private def config(base: Path, d: CsrData): PipelineConfig = PipelineConfig(
    dropDir = base.resolve("drop").toString,
    inputDataDir = base.resolve("input_data").toString,
    workingDir = base.resolve("working").toString,
    stagingDir = base.resolve("staging").toString,
    signalsDir = base.resolve("signals"),
    sources = d.sources(d.registryRows).map(_._1),
    entityKey = "individual_id",
    attrs = Attrs,
    codebook = Codebook,
    concepts = Concepts,
    lineageDir = Some(base.resolve("lineage").toString),
    cacheDir = Some(base.resolve("cache").toString))

  def prepare(spark: SparkSession, r: Record): Unit = {
    data = new CsrData(seed, individuals)
    truthCold = data.truth(data.registryRows)
    truthEdited = data.truth(data.editedRegistryRows)
    data.writeZone(root.resolve("zone"))
    r.num("csr_input_rows", (data.individualsRows.length + data.registryRows.length + data.labsRows.length).toDouble)
    r.num("csr_zone_bytes", Files2.bytes(root.resolve("zone")).toDouble)
    r.num("individuals", individuals.toDouble)
    r.num("expected_observations", truthCold.size.toDouble)
  }

  private def staged(spark: SparkSession, cfg: PipelineConfig): DataFrame =
    spark.read.option("delimiter", "\t").option("header", "true")
      .csv(s"${cfg.stagingDir}/observations")

  private def matches(spark: SparkSession, cfg: PipelineConfig,
                      truth: Map[(String, String), String]): Boolean = {
    val rows = staged(spark, cfg).select("entity_id", "concept_cd", "num_value", "str_value", "date_value")
      .collect()
    val got = rows.map { r =>
      val v = Option(r.getString(2)).map(_.toDouble.toString)
        .orElse(Option(r.getString(3))).orElse(Option(r.getString(4))).orNull
      (r.getString(0), r.getString(1)) -> v
    }
    val ok = got.length == truth.size && got.toMap == truth
    if (!ok) System.err.println(s"[perfbench] csr_etl: staged ${got.length} observations, " +
      s"expected ${truth.size}; first mismatch: ${got.find { case (k, v) => !truth.get(k).contains(v) }}")
    ok
  }

  def open(spark: SparkSession, base: Path): PipelineRun = {
    Files2.copyTree(root.resolve("zone"), base.resolve("drop"))
    val cfg = config(base, data)
    PipelineRun("csr_etl", tasks, leaf = "cache_rebuild",
      // a changed source re-hashes the drop zone, so the whole chain re-runs
      expectIncremental = tasks,
      signalsDir = cfg.signalsDir,
      newStore = () => new FileSignalStore(cfg.signalsDir),
      execute = store => GraftPipeline.build(spark, cfg).execute(store),
      edit = () => data.writeSource(base.resolve("drop"),
        data.sources(data.editedRegistryRows)(1)._1, data.editedRegistryRows),
      checkCold = () => matches(spark, cfg, truthCold),
      checkIncremental = () => matches(spark, cfg, truthEdited),
      diskBytes = () => Files2.bytes(base) - Files2.bytes(base.resolve("drop")))
  }

  /** Replay one cold run layer by layer: every call into a layer's public
    * function is timed from here, its output forced (persist + count, or
    * the write the task itself does) so the next layer's span excludes it. */
  def replay(spark: SparkSession, base: Path, fullSpans: collection.Map[String, Double]): Unit = {
    import spark.implicits._
    Files2.copyTree(root.resolve("zone"), base.resolve("drop"))
    val cfg = config(base, data)
    val spent = mutable.LinkedHashMap.empty[String, Double]
    def span[T](task: String, metric: String)(body: => T): T = {
      val (r, s) = Clock.time(body)
      rec.add(metric, s)
      spent(task) = spent.getOrElse(task, 0.0) + s
      r
    }
    def hash(task: String, dir: String): Unit = span(task, "signal.hash_s")(GraftPipeline.doneSignal(spark, dir))
    def forced(df: DataFrame): (DataFrame, Long) = { val p = df.persist(); (p, p.count()) }
    rec.op("csr_etl replay") {
      Files.createDirectories(java.nio.file.Paths.get(cfg.inputDataDir))
      span("sync", "filesync.verify_s")(FileSync.verifyChecksums(spark, cfg.dropDir).collect())
      val copied = span("sync", "filesync.sync_s")(FileSync.syncDirs(spark, cfg.dropDir, cfg.inputDataDir))
      rec.add("filesync.files_copied", copied.size)
      span("sync", "lineage.commit_s")(Lineage.commit(spark, cfg.lineageDir.get, cfg.inputDataDir, "Add new input data."))
      hash("sync", cfg.inputDataDir)

      val frames = cfg.sources.map { s =>
        val (df, n) = span("sources2csr", "delimited.read_s")(
          forced(DelimitedSource.read(spark, s"${cfg.inputDataDir}/${s.fileName}", s.cfg)))
        rec.add("etl.source_rows", n)
        df
      }
      val (merged, _) = span("sources2csr", "merge.entity_s")(
        forced(EntityMerge.merge(frames, cfg.entityKey, cfg.attrs)))
      val (decoded, _) = span("sources2csr", "codebook.decode_s")(forced(CodebookDecode.decodeAll(merged,
        cfg.codebook.map(_._1).distinct.filter(cfg.attrs.contains),
        cfg.codebook.toDF("column_name", "code", "label"))))
      span("sources2csr", "transmart.write_s")(TransmartLoad.writeStaging(
        decoded.orderBy(cfg.entityKey), cfg.workingDir, "csr", singleFile = true))
      hash("sources2csr", cfg.workingDir)

      val csr = spark.read.option("delimiter", "\t").option("header", "true").csv(s"${cfg.workingDir}/csr")
      val (obs, nObs) = span("csr2transmart", "eav.melt_s")(forced(EavMelt.melt(csr, cfg.entityKey, cfg.concepts)))
      rec.add("etl.observations", nObs)
      span("csr2transmart", "transmart.write_s")(TransmartLoad.writeStaging(
        obs.orderBy("entity_id", "concept_cd"), cfg.stagingDir, "observations", singleFile = true))
      span("csr2transmart", "lineage.commit_s")(Lineage.commit(spark, cfg.lineageDir.get, cfg.stagingDir, "Add transmart data."))
      hash("csr2transmart", cfg.stagingDir)

      span("load", "signal.hash_s")(TransmartLoad.doneSignal(spark, s"${cfg.stagingDir}/observations"))

      span("cache_rebuild", "aggcache.rebuild_s")(AggCache.rebuild(staged(spark, cfg).select(
        col("entity_id").as("patient_num"), col("concept_cd").as("concept_path"),
        col("num_value").cast("double").as("num_value")), cfg.cacheDir.get))
      hash("cache_rebuild", cfg.cacheDir.get)
      Seq(frames, Seq(merged, decoded, obs)).flatten.foreach(_.unpersist())
    }
    tasks.foreach { t =>
      fullSpans.get(t).foreach(s => rec.set(s"task.$t.unattributed_s", s - spent.getOrElse(t, 0.0)))
    }
  }
}
