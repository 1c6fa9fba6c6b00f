package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Tool plans`' masking of run-specific plan tokens: two runs of one gate
  * must write the same file, and masking must not hide a plan change.
  */
class PlanDumpSpec extends AnyFunSuite {

  test("stable masks run-specific tokens and keeps operators and exchanges") {
    def run(expr: Int, plan: Int, stage: Int, rdd: Int, line: Int, tmp: String, uuid: String) =
      s"""+- ShuffleQueryStage (7), Statistics(sizeInBytes=$expr.5 KiB, rowCount=$rdd)
         |(5) HashAggregate [codegen id : $stage]
         |Results [2]: [doc_id#${expr}L, count#${expr + 1}L]
         |Arguments: hashpartitioning(doc_id#${expr}L, 4), ENSURE_REQUIREMENTS, [plan_id=$plan]
         |
         |(7) ShuffleQueryStage
         |Output [1]: [doc_id#${expr}L]
         |Arguments: $stage
         |
         |(8) Project
         |Arguments: lambdavariable(x_$expr, LongType), MapPartitionsRDD[$rdd] at createDataFrame at SpanIndex.scala:$line
         |Location: InMemoryFileIndex [file:/tmp/graft_spcen_$tmp/cen/part-00002-$uuid-c000.snappy.parquet, ... 3 entries]
         |""".stripMargin
    val a = run(2882, 5724, 9, 322, 319, "12377149384120479411", "a4b86fa4-9ee6-441b-a8fb-9e9fbb7163b1")
    val b = run(2879, 5813, 10, 131, 401, "8553117960461025241", "7eeebddb-2bfe-427c-b926-27f82158a1d1")
    assert(a !== b)
    assert(Tool.stable(a) === Tool.stable(b))
    val s = Tool.stable(a)
    Seq("ShuffleQueryStage (7)", "(5) HashAggregate", "hashpartitioning(doc_id#xL, 4)",
      "ENSURE_REQUIREMENTS", "(8) Project", "graft_spcen_x/cen/part-x.snappy.parquet",
      "... 3 entries").foreach(t => assert(s.contains(t), t))
    // a different operator or partition count still shows
    assert(Tool.stable(a.replace("HashAggregate", "SortAggregate")) !== Tool.stable(b))
    assert(Tool.stable(a.replace(", 4)", ", 8)")) !== Tool.stable(b))
  }
}
