package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Attribution of Spark jobs to layers by their recorded call sites. */
class TraceSpec extends AnyFunSuite {
  private def site(frames: String*): String = frames.mkString("\n")

  private val snapshot = Seq(
    "graft.catalog.MetaStore.readHyperFiles(MetaStore.scala:120)",
    "graft.catalog.MetaStore.hyperFilesSnapshot(MetaStore.scala:140)")

  test("a snapshot reload under a list GET is a GET reload") {
    assert(Trace.isGetReload(site(snapshot ++ Seq(
      "graft.serve.Serve.listFiles(Serve.scala:258)",
      "graft.serve.Serve.handle(Serve.scala:140)"): _*)))
  }

  test("a snapshot reload under a detail GET is a GET reload") {
    assert(Trace.isGetReload(site(snapshot ++ Seq(
      "graft.serve.Serve.lookup(Serve.scala:689)",
      "graft.serve.Serve.getFile(Serve.scala:275)"): _*)))
    assert(Trace.isGetReload(site(snapshot ++ Seq(
      "graft.serve.Serve.$anonfun$getFile$1(Serve.scala:276)"): _*)))
  }

  test("a snapshot reload under a POST sync is not a GET reload") {
    assert(!Trace.isGetReload(site(snapshot ++ Seq(
      "graft.serve.Serve.lookup(Serve.scala:689)",
      "graft.serve.Serve.syncFile(Serve.scala:285)",
      "graft.serve.Serve.handle(Serve.scala:140)"): _*)))
  }

  test("a job outside the API is not a GET reload") {
    assert(!Trace.isGetReload(site(snapshot: _*)))
    assert(!Trace.isGetReload(""))
    assert(!Trace.isGetReload("perfbench.Api.getFile(Api.scala:10)"))
  }

  test("the first engine frame names the module") {
    assert(Trace.moduleOf(site(snapshot ++ Seq(
      "graft.serve.Serve.listFiles(Serve.scala:258)"): _*)) == "catalog.MetaStore")
    assert(Trace.moduleOf(site(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.ops.Dedup$.nearDupPairs(Dedup.scala:10)")) == "ops.Dedup")
    assert(Trace.moduleOf("perfbench.QueryWorkload.run(Queries.scala:1)") == "none")
  }

  test("stage intervals are counted once where they overlap") {
    assert(Trace.unionSeconds(Seq((0.0, 1000.0), (500.0, 1500.0), (2000.0, 2500.0))) == 2.0)
    assert(Trace.unionSeconds(Nil) == 0.0)
  }
}
