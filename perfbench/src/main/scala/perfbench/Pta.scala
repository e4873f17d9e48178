package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.analytics.Chain
import graft.os.OptimalStatistic
import graft.signals.TimingModel
import graft.sinks.NoiseFileWriter
import graft.sources.{ChainReader, NoiseJson, ParReader, TimReader, ToaCache}

/** The generator's ground truth (gen_pta.py writes truth.json). */
final class PtaTruth(path: String) {
  private implicit val formats: Formats = DefaultFormats
  private val j = JsonMethods.parse(new java.io.File(path))
  val seed: Long = (j \ "seed").extract[Long]
  val psrs: Seq[String] = (j \ "psrs").extract[Seq[String]]
  val backends: Seq[String] = (j \ "backends").extract[Seq[String]]
  val toaCounts: Map[(String, String), Long] =
    (j \ "toa_counts").extract[Map[String, Map[String, Long]]].toSeq
      .flatMap { case (p, m) => m.map { case (b, n) => (p, b) -> n } }.toMap
  val tspanSec: Map[String, Double] = (j \ "tspan_sec").extract[Map[String, Double]]
  val pepoch: Map[String, Double] =
    psrs.map(p => p -> (j \ "par" \ p \ "pepoch").extract[Double]).toMap
  val jumps: Map[String, Set[(String, String)]] = psrs.map(p =>
    p -> (j \ "par" \ p \ "jumps").extract[Seq[Seq[String]]].map(s => (s(0), s(1))).toSet).toMap
  val chainPars: Seq[String] = (j \ "chain" \ "pars").extract[Seq[String]]
  val chainRows: Long = (j \ "chain" \ "rows").extract[Long]
  val chainBurn: Long = (j \ "chain" \ "burn").extract[Long]
  val modelCounts: Map[Long, Long] = (j \ "chain" \ "model_counts")
    .extract[Map[String, Long]].map { case (k, v) => k.toLong -> v }
  val nPairs: Long = (j \ "n_pairs").extract[Long]
  val osAmp: Double = (j \ "os_amp").extract[Double]
  val osSig: Double = (j \ "os_sig").extract[Double]
}

/** pta_pipeline: the enterprise_warp post-processing workflow over a seeded
  * synthetic campaign. One pass is one iteration of the workflow; every
  * operation checks its output against the generator's ground truth. */
final class Pta(spark: SparkSession, data: String, work: String, truth: PtaTruth,
    tamperNoise: Boolean) extends Workload {
  import spark.implicits._

  private val timDir = s"$data/tim"
  private val parDir = s"$data/par"
  private val chainDir = s"$data/chain"
  private val cacheDir = s"$work/toacache"
  private val noiseDir = s"$work/noise"

  /** A smaller fit than the library default (10 instead of 15 Fourier
    * frequencies, grids at half resolution) so one iteration stays within a
    * few seconds; the likelihood kernel is the same. */
  val fitConfig: TimingModel.FitConfig = TimingModel.FitConfig(
    nFreqRed = 10, nFreqDm = 10,
    efacGrid = (2 to 60 by 2).map(_ * 0.05),
    equadGrid = (-90 to -50 by 2).map(_ * 0.1),
    lgAGrid = (-160 to -110 by 2).map(_ * 0.1),
    gammaGrid = (2 to 12).map(_ * 0.5),
    passes = 2)

  /** Likelihood evaluations of one fitNoise call: every pulsar sweeps each
    * per-backend (efac, equad) grid and the red and DM (log10_A, gamma)
    * grids, `passes` times. */
  val likelihoodEvals: Long = {
    val perBackend = fitConfig.efacGrid.size + fitConfig.equadGrid.size
    val gp = fitConfig.lgAGrid.size + fitConfig.gammaGrid.size
    truth.psrs.size.toLong * fitConfig.passes *
      (truth.backends.size * perBackend + 2 * gp)
  }

  private val psrTable: DataFrame = scala.io.Source.fromFile(s"$data/psrs.tsv")
    .getLines().map(_.split("\t"))
    .map(a => (a(0), a(1).toLong, a(2).toDouble, a(3).toDouble)).toSeq
    .toDF("psr", "idx", "ra", "dec")

  /** Seeded residuals that depend only on each row's own values, so the
    * fit sees the same input under any partitioning: per-backend white
    * noise (EFAC 0.8/1.0/1.4 times the TOA error) plus a slow sinusoid. */
  private val resid: org.apache.spark.sql.Column = {
    val h1 = pmod(xxhash64(col("psr"), col("file"), lit(truth.seed)), lit(1L << 40))
    val h2 = pmod(xxhash64(col("file"), col("psr"), lit(truth.seed + 1)), lit(1L << 40))
    val u1 = (h1.cast("double") + 0.5) / (1L << 40).toDouble
    val u2 = (h2.cast("double") + 0.5) / (1L << 40).toDouble
    val z = sqrt(log(u1) * -2.0) * cos(u2 * 2.0 * math.Pi)
    val efac = when(col("flags").getItem("group") === "PDFB_10CM", 0.8)
      .when(col("flags").getItem("group") === "PDFB_20CM", 1.0).otherwise(1.4)
    col("toaerr_us") * 1e-6 * efac * z +
      sin(col("toa_sec") * (2.0 * math.Pi / 9.4e7)) * 2e-7
  }

  // state carried between the operations of one iteration
  private var toas: DataFrame = _
  private var parInfo: Map[String, TimingModel.ParInfo] = Map.empty
  private var fitted: Map[(String, String), Double] = Map.empty
  private var firstFit: Option[Map[(String, String), Double]] = None
  private var burned: DataFrame = _
  private var firstModes: Option[String] = None
  /** Cache and sink counts over the traced passes. */
  var cacheHits, cacheMisses, sinkBytes, sinkFiles = 0L

  def warmUp(): Unit = {
    TimReader.read(spark, timDir).count()
    ChainReader.readPars(spark, s"$chainDir/pars.txt")
  }

  private def ok(cond: Boolean, why: => String): Option[String] =
    if (cond) None else Some(why)

  private def check(cond: => Boolean, why: => String): Check = () => ok(cond, why)

  private def ingest(t: Tracer, op: Int, eph: String, expectHit: Boolean): Check = {
    val hit = new java.io.File(ToaCache.path(cacheDir, ToaCache.cacheKey(truth.psrs, eph))).exists()
    if (t.enabled) { if (hit) cacheHits += 1 else cacheMisses += 1 }
    toas = t.span("build", op)(
      ToaCache.readThrough(spark, cacheDir, truth.psrs, eph)(TimReader.read(spark, timDir)))
    val rows = Workload.collect(t, op, toas.groupBy(col("psr")).count())
    () => {
      val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = truth.toaCounts.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
      ok(hit == expectHit, s"cache ${if (hit) "hit" else "miss"}, expected the other")
        .orElse(ok(got == want, s"TOA counts per pulsar $got != $want"))
    }
  }

  def ops(pass: Int, shuffle: Boolean): Seq[Op] = {
    val eph = s"DE440-s${truth.seed}-p$pass"
    Seq(
      Op("ingest_miss", "sources", (t, i) => ingest(t, i, eph, expectHit = false)),
      Op("ingest_hit", "sources", (t, i) => ingest(t, i, eph, expectHit = true)),
      Op("backend_stats", "sources", (t, i) => {
        val rows = Workload.collect(t, i, TimReader.backendErrorStats(toas, "group"))
        val got = rows.map(r => (r.getAs[String]("psr"), r.getAs[String]("backend")) ->
          r.getAs[Long]("n_toas")).toMap
        check(got == truth.toaCounts, s"TOA counts per (pulsar, backend) $got")
      }),
      Op("tspan", "sources", (t, i) => {
        val rows = Workload.collect(t, i, TimReader.tspan(toas))
        val got = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
        check(got.keySet == truth.tspanSec.keySet && got.forall { case (p, v) =>
          math.abs(v - truth.tspanSec(p)) <= 1e-12 * truth.tspanSec(p) }, s"tspan $got")
      }),
      Op("par_info", "sources", (t, i) => {
        parInfo = t.span("build", i)(TimingModel.parInfo(
          ParReader.readParams(spark, parDir), ParReader.readJumps(spark, parDir)))
        check(parInfo.keySet == truth.psrs.toSet && parInfo.forall { case (p, pi) =>
          pi.pepochMjd == truth.pepoch(p) && pi.jumpGroups.toSet == truth.jumps(p) &&
            pi.includeDm }, s"par info $parInfo")
      }),
      Op("fit_noise", "signals", (t, i) => {
        val in = TimingModel.toaFitRows(toas.withColumn("resid_sec", resid), "resid_sec", "group")
        val rows = Workload.collect(t, i, TimingModel.fitNoise(in, parInfo, fitConfig))
        fitted = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        val perPsr = 2 * truth.backends.size + 4
        val first = firstFit.getOrElse { firstFit = Some(fitted); fitted }
        val fit = fitted
        () => ok(fit.size == perPsr * truth.psrs.size && fit.values.forall(_.isFinite),
          s"fitted ${fit.size} parameters, expected ${perPsr * truth.psrs.size}")
          .orElse(ok(fit == first, "fitted summary differs from the first iteration's"))
      }),
      Op("noise_write", "sinks", (t, i) => {
        val summary = fitted.toSeq.map { case ((p, k), v) => (p, k, v) }.toDF("psr", "param", "value")
        val paths = t.span("build", i)(NoiseFileWriter.writeNoiseFiles(summary, noiseDir))
        if (t.enabled) {
          sinkFiles += paths.size
          sinkBytes += paths.map(Files.size).sum
        }
        if (tamperNoise) {
          val p = paths.head
          Files.writeString(p, Files.readString(p).replaceFirst(": (-?[0-9])", ": 1$1"))
        }
        check(paths.size == truth.psrs.size, s"wrote ${paths.size} noise files")
      }),
      Op("noise_read", "sources", (t, i) => {
        val rows = Workload.collect(t, i, NoiseJson.readNoiseFiles(spark, noiseDir, truth.psrs))
        val got = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
        val want = fitted.map { case ((_, k), v) => k -> v }
        check(got == want, "noise files do not read back equal to the fitted summary")
      }),
      Op("chain_load", "sources", (t, i) => {
        val rows = Workload.collect(t, i, {
          val pars = ChainReader.readPars(spark, s"$chainDir/pars.txt")
          burned = ChainReader.burned(ChainReader.toLong(ChainReader.readChain(spark, chainDir), pars))
          burned.groupBy(col("par")).count()
        })
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        check(got == truth.chainPars.map(_ -> (truth.chainRows - truth.chainBurn)).toMap,
          s"post-burn-in rows per parameter $got")
      }),
      Op("chain_mode", "analytics", (t, i) => {
        val rows = Workload.collect(t, i,
          Chain.histogramMode(burned.filter(col("par") =!= "nmodel"), col("par"), col("value"), 50))
        val d = Digest.rows(rows)
        val first = firstModes.getOrElse { firstModes = Some(d); d }
        check(rows.length == truth.chainPars.size - 1 && d == first, s"histogram modes $d")
      }),
      Op("chain_models", "analytics", (t, i) => {
        val rows = Workload.collect(t, i, modelCounts)
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        check(got == truth.modelCounts, s"post-burn-in model counts $got != ${truth.modelCounts}")
      }),
      Op("chain_bf", "analytics", (t, i) => {
        val rows = Workload.collect(t, i, Chain.logBayesFactors(modelCounts))
        val want = math.log(truth.modelCounts(1L).toDouble / truth.modelCounts(0L))
        check(rows.length == 1 && math.abs(rows(0).getDouble(2) - want) <= 1e-12 * math.abs(want),
          s"log Bayes factors ${rows.mkString(",")}, expected $want")
      }),
      Op("os_pairs", "os", (t, i) => {
        val rows = Workload.collect(t, i, OptimalStatistic.pairs(psrTable))
        check(rows.length == truth.nPairs, s"${rows.length} pulsar pairs, expected ${truth.nPairs}")
      }),
      Op("os_estimate", "os", (t, i) => {
        val rows = Workload.collect(t, i, OptimalStatistic.osEstimate(pairRho))
        val os = rows(0).getDouble(0)
        check(math.abs(os - truth.osAmp) <= 1e-9 * truth.osAmp, s"OS $os, injected ${truth.osAmp}")
      }),
      Op("os_binned", "os", (t, i) => {
        val rows = Workload.collect(t, i, OptimalStatistic.binned(pairRho, 8))
        val n = rows.map(_.getAs[Long]("npairs")).sum
        check(rows.length == math.min(8L, truth.nPairs) && n == truth.nPairs,
          s"${rows.length} bins holding $n pairs")
      }))
  }

  private def modelCounts: DataFrame =
    Chain.modelCounts(burned.filter(col("par") === "nmodel"), col("value"))

  /** Pairs carrying a pure Hellings-Downs signal: the OS must recover the
    * injected amplitude. */
  private def pairRho: DataFrame =
    OptimalStatistic.withOrf(OptimalStatistic.pairs(psrTable), "hd")
      .withColumn("rho", lit(truth.osAmp) * col("orf"))
      .withColumn("sig", lit(truth.osSig))

  override def reset(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cacheDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(noiseDir))
    Files.createDirectories(Paths.get(cacheDir))
  }
}
