package graft

import graft.core._
import org.apache.spark.sql.functions._

/** The Spark jobs an ELT operator launches are its cost floor at small
  * sizes (scheduling and AQE re-planning, not compute): pin the counts of
  * the table swap, the SCD2 merge and the first-file schema sample. */
class JobCountSpec extends GraftSuite {
  import spark.implicits._
  import SparkTestBase.jobsDuring

  test("writeTable of a narrow DataFrame runs exactly one job, new or replaced") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val t = TableRef("job_count_narrow")
    assert(jobsDuring(g.writeTable(df, t, IfExists.Replace)) == 1)
    assert(jobsDuring(g.writeTable(df, t, IfExists.Replace)) == 1)
    assert(g.rowCount(t) == 100)
  }

  test("scd2Merge runs at most four jobs") {
    val dim = TableRef("job_count_dim")
    val src = TableRef("job_count_src")
    g.writeTable((1 to 200).map(i => (i.toLong, s"s${i % 7}")).toDF("id", "seg")
      .select(col("id"), col("seg"), to_date(lit("2020-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current")),
      dim, IfExists.Replace)
    g.writeTable((150 to 250).map(i => (i.toLong, s"s${i % 5}")).toDF("id", "seg"),
      src, IfExists.Replace)
    val jobs = jobsDuring(g.scd2Merge(src, dim, Seq("id"), Seq("seg"), "2021-01-01"))
    assert(jobs <= 4, s"$jobs jobs")
    assert(spark.table(dim.qualifiedName).where("is_current").count() == 250)
  }

  test("readFile of a CSV glob with first-file inference runs at most one job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job_count_csv").toString
    (0 until 3).foreach { i =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part_$i.csv"),
        "k,s,x\n" + (0 until 50).map(j => s"${i * 50 + j},v$j,${j * 0.5}").mkString("\n") + "\n")
    }
    def load() = g.readFile(FileRef(s"$dir/*.csv"), inferFromFirstFileOnly = true)
    val jobs = jobsDuring(load())
    assert(jobs <= 1, s"$jobs jobs")
    assert(load().schema.map(_.dataType.typeName) == Seq("integer", "string", "double"))
    assert(load().count() == 150)
  }
}
