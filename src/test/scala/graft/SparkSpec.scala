package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Assertions, BeforeAndAfterAll}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built as users build theirs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // local[threads, maxTaskFailures]: allow one retry so specs can
    // exercise task-retry semantics (AuditSinkSpec injects a failure)
    val s = GraftSession.builder("local[4,2]", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.attach(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val vbfModels =
    (0 until 4).map(f => s"trained_models/vbf/models/model_pytorch_test_$f.pt")
  private val vbfScalers =
    (0 until 4).map(f => s"trained_models/vbf/scalers/scalers_pytorch_test_$f.npy")
  private val muonSfId = "muon_sf/year2018/RunABCD_SF_ID.root"
  private val muonResolution = "mass_res_pisa/muonresolution.root"

  /** The reference fixtures (paths under `queries.referenceDataRoot`)
    * each fixture-reading query reads when it is built or when its
    * oracle is asked for. Queries not listed read none. */
  val queryFixtures: Map[String, Seq[String]] = Map(
    "l10_jec_variant_columns" ->
      Seq("jec/Autumn18_V19_MC_UncertaintySources_AK4PFchs.junc.txt"),
    "l14_root_sf_join" -> Seq(muonSfId),
    "l15_nnlops_interp" -> Seq("NNLOPS_reweight.root"),
    "l16_zpt_json_lookup" -> Seq("zpt_weights.histo.json"),
    "l17_jec_unc_real" ->
      Seq("jec/Autumn18_RunA_V19_DATA_Uncertainty_AK4PFchs.junc.txt"),
    "l18_roccor_grid" -> Seq("roch_corr/RoccoR2018.txt"),
    "l19_puid_weight" -> Seq("PUIDMaps.root"),
    "l20_btag_csv_real" -> Seq("btag/DeepCSV_102XSF_V1.csv"),
    "l21_jec_levels_real" -> Seq("L1FastJet", "L2Relative", "L3Absolute")
      .map(l => s"jec/Autumn18_V19_MC_${l}_AK4PFchs.jec.txt"),
    "l22_roccor_mc" -> Seq("roch_corr/RoccoR2018.txt"),
    "l23_jec_data_residual" ->
      Seq("L1FastJet", "L2Relative", "L3Absolute", "L2L3Residual")
        .map(l => s"jec/Autumn18_RunA_V19_DATA_${l}_AK4PFchs.jec.txt"),
    "l24_musf_chain" -> (Seq(muonSfId, "muon_sf/year2018/RunABCD_SF_ISO.root") ++
      Seq("Before", "After").map(w => "muon_sf/mu2018/EfficienciesStudies_2018_" +
        s"trigger_EfficienciesAndSF_2018Data_${w}MuonHLTUpdate.root")),
    "l28_pu_file_reweight" ->
      Seq("pileup/mcPileup2018.root", "pileup/puData2018_withVar.root"),
    "m34_fold_scalers" -> vbfScalers,
    "m35_vbf_dnn_real" -> (vbfModels ++ vbfScalers),
    "m36_vbf_fold_ensemble" -> (vbfModels ++ vbfScalers),
    "n12_stream_root_sf" -> Seq(muonSfId),
    "n14_stream_dnn_scoring" -> (vbfModels ++ vbfScalers),
    "p26_golden_lumimask" -> Seq("lumimasks/Cert_314472-325175_13TeV_" +
      "17SeptEarlyReReco2018ABC_PromptEraD_Collisions18_JSON.txt"),
    "s10_root_scan" -> Seq("pileup/mcPileup2018.root"),
    "s11_tree_scan" -> Seq(muonResolution),
    "s14_root_stage1" -> Seq(muonResolution),
    "s16_runs_prescan" -> Seq(muonResolution)
  )

  /** Cancel the running test unless every named reference fixture
    * (relative to `queries.referenceDataRoot`) exists. */
  def assumeRefData(rels: String*): Unit = rels.foreach { rel =>
    val fx = s"${graft.queries.referenceDataRoot}/$rel"
    Assertions.assume(new java.io.File(fx).exists, s"reference fixture missing: $fx")
  }

  /** Cancel the running test unless the fixtures of the named queries exist. */
  def assumeQueryFixtures(names: String*): Unit =
    assumeRefData(names.flatMap(queryFixtures.getOrElse(_, Nil)).distinct: _*)

  /** Cancel the running test unless every query's fixtures exist — for
    * tests that build every query or read every oracle. */
  def assumeAllQueryFixtures(): Unit =
    assumeQueryFixtures(queryFixtures.keys.toSeq.sorted: _*)
}
