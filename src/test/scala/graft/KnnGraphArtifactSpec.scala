package graft

import graft.operators.{AnnOps, ArtifactStore}

/** The shared kNN-graph artifact (the `knn_pairs` family of the artifact
  * store): the session-shared pairs build exactly once per corpus and
  * every graph-family consumer derives from the same stored frame. */
class KnnGraphArtifactSpec extends SparkSpecBase {

  test("sharedPairs builds once per corpus and is reused by consumers") {
    val shared = ArtifactStore.familyDir(spark, Sf, "knn_pairs")
    val before = ArtifactStore.versions(spark, shared).size
    AnnOps.sharedKnnPairs(spark, Sf).count()
    val after1 = ArtifactStore.versions(spark, shared).size
    assert(after1 == math.max(before, 1), "first use builds at most once")
    // a second consumer call must NOT commit another version
    AnnOps.knnGraph(spark, Sf).count()
    assert(ArtifactStore.versions(spark, shared).size == after1,
      "later graph-family queries reuse the artifact, never rebuild")
  }
}
