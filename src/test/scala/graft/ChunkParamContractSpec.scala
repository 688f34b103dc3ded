package graft

import graft.pipeline.ArtifactStore
import org.scalatest.funsuite.AnyFunSuite

/** Pins the LIVE-TRAIN contract of q281/q286 (r21 verdict "what's wrong"
  * #2): the chunk-PQ DEPLOYED-index queries (q289/q290/q292) load the v1
  * trained quantizer parameters as artifacts (`chunk_ivf_cents_*` /
  * `chunk_pq_cb_*`), which is legitimate exactly BECAUSE q281/q286's
  * declared contract is the live train/encode demonstration — if that
  * boundary ever moves (someone "optimizes" q281/q286 onto the artifact
  * roots), the artifact convention flips from materialize-once to
  * benchmark gaming. Until this spec, only a comment enforced it.
  *
  * Probe: run each query against a FRESH input dir (its own fingerprint ⇒
  * its own empty artifact generation), then assert the two chunk-param
  * roots were never created. loadOrBuild materializes on first touch, so
  * absence == the query never consulted the artifact tier for its
  * training. q289 on the same dir is the positive control: it MUST create
  * both roots, proving the probe watches the right paths.
  */
class ChunkParamContractSpec extends AnyFunSuite with SparkTestSession {

  private val paramRoots =
    Seq("chunk_ivf_cents_ld_k32_i1_v1", "chunk_pq_cb_ld_m16_k16_i1_v1")

  // a private copy of the documents fixture: unique path + mtimes ⇒ unique
  // ArtifactStore fingerprint ⇒ an artifact generation no other suite (or
  // earlier run) can have populated
  private lazy val freshDir: String = {
    val d = tempDir("graft_chunk_contract")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      d.resolve("documents.parquet"))
    d.toString
  }

  private def rootExists(name: String): Boolean =
    new java.io.File(ArtifactStore.rootFor(freshDir, name)).exists()

  test("q281/q286 train live: the chunk-param artifact roots stay untouched") {
    for (q <- Seq("q281_chunk_retrieval_ivf", "q286_chunk_retrieval_ivfpq")) {
      SparkEntry.queries(q)(spark, freshDir).collect()
      paramRoots.foreach { r =>
        assert(!rootExists(r),
          s"$q read or built the trained-parameter artifact $r — its declared " +
            "contract is LIVE training (see PipelineQueries.chunkPqParams)")
      }
    }
  }

  test("positive control: the deployed-index chain DOES materialize the params") {
    SparkEntry.queries("q289_chunk_pq_index_erasure")(spark, freshDir).collect()
    paramRoots.foreach(r => assert(rootExists(r),
      s"probe is watching the wrong path: q289 should have built $r"))
  }
}
