package graft

/** The write-once contract every persisted-layout oracle leans on:
  * one materialization per (application, dataset) no matter how many
  * queries touch the layout, and `lastPath` always naming the layout
  * the most recent query used (what the dataset-less oracle SQL reads).
  */
class LayoutSpec extends SparkSpec {

  test("Layout materializes once per dataset and tracks lastPath") {
    val l = new Layout("graft_layout_spec")
    var writes = 0
    val p1 = l(spark, "dsA") { p => writes += 1; new java.io.File(p).mkdirs() }
    val p2 = l(spark, "dsA") { _ => writes += 1 }
    assert(writes === 1, "second touch must not re-materialize")
    assert(p1 === p2)
    assert(l.lastPath === p1)
    val p3 = l(spark, "dsB") { _ => writes += 1 }
    assert(writes === 2)
    assert(p3 !== p1, "datasets must not share a layout path")
    assert(l.lastPath === p3, "lastPath must follow the most recent touch")
    l(spark, "dsA") { _ => writes += 1 }
    assert(writes === 2)
    assert(l.lastPath === p1)
  }

  test("a changed input fingerprint produces a fresh layout path") {
    val l = new Layout("graft_layout_spec_fp")
    var writes = 0
    import spark.implicits._
    val in1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val in2 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v") // regenerated: +1 row
    val in3 = Seq((1L, 9L), (2L, 9L)).toDF("id", "v") // same count, new schema
    val fp1 = Layout.fingerprint(in1)
    val p1 = l(spark, "ds", fp1) { _ => writes += 1 }
    val p1b = l(spark, "ds", Layout.fingerprint(in1)) { _ => writes += 1 }
    assert(writes === 1, "identical input must reuse the materialized layout")
    assert(p1b === p1)
    val p2 = l(spark, "ds", Layout.fingerprint(in2)) { _ => writes += 1 }
    assert(writes === 2, "a row-count change must re-materialize")
    assert(p2 !== p1, "a regenerated fixture must get a fresh path")
    val p3 = l(spark, "ds", Layout.fingerprint(in3)) { _ => writes += 1 }
    assert(writes === 3, "a schema change must re-materialize")
    assert(p3 !== p1)
    assert(p3 !== p2)
  }
}
