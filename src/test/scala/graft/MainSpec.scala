package graft

/** CLI entry point (`main.py:26-90` analog): argument parsing, the
  * reference's date-validation error messages, and an end-to-end run. */
class MainSpec extends SparkSpec {

  test("validate_dates mirrors the reference's error messages") {
    assert(Main.validateDates(None, None) === Right(()))
    assert(Main.validateDates(Some("2024-01-05"), Some("2024-01-20")) === Right(()))
    assert(Main.validateDates(Some("01/05/2024"), None) ===
      Left("Invalid start_date format: 01/05/2024. Expected YYYY-MM-DD"))
    assert(Main.validateDates(None, Some("2024-13-40")) ===
      Left("Invalid end_date format: 2024-13-40. Expected YYYY-MM-DD"))
    assert(Main.validateDates(Some("2024-02-01"), Some("2024-01-01")) ===
      Left("start_date (2024-02-01) is after end_date (2024-01-01)"))
  }

  test("parse_arguments: flags land in the config, unknown flags rejected") {
    val c = Main.parseArguments(Array(
      "--sf_dir", "/x", "--state_dir", "/y",
      "--start_date", "2024-01-05", "--end_date", "2024-01-20",
      "--output_path", "/z")).toOption.get
    assert(c.sfDir === "/x" && c.stateDir === "/y" &&
      c.startDate === Some("2024-01-05") && c.endDate === Some("2024-01-20") &&
      c.outputPath === Some("/z"))
    assert(Main.parseArguments(Array("--bogus", "1")) === Left("Unknown argument: --bogus"))
    assert(Main.parseArguments(Array("--sf_dir")) ===
      Left("Missing value for argument: --sf_dir"))
    assert(Main.parseArguments(Array("--start_date", "nope")).isLeft)
  }

  test("runCli: invalid window exits 1; valid window runs the pipeline and exports CSV") {
    assert(Main.runCli(Array("--start_date", "bad-date"), spark) === 1)
    val state = java.nio.file.Files.createTempDirectory("graft_main_state").toString
    val out = java.nio.file.Files.createTempDirectory("graft_main_csv").toString + "/report"
    val code = Main.runCli(Array(
      "--sf_dir", "/root/testdata/sf0.001", "--state_dir", state,
      "--start_date", "2024-01-05", "--end_date", "2024-01-20",
      "--output_path", out), spark)
    assert(code === 0)
    // one header'd CSV file holding the committed report's rows, in order
    val report = Pipeline.report(spark, state)
    val rendered = report.collect().toSeq
    assert(rendered.nonEmpty)
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".csv")) === 1)
    val csv = spark.read.option("header", "true").schema(report.schema).csv(out)
    assert(csv.columns.toSeq === report.columns.toSeq)
    assert(csv.collect().toSeq === rendered)
  }

  test("start_date bounds the processed conversions exactly like the reference extract") {
    import org.apache.spark.sql.functions._
    val sAll = java.nio.file.Files.createTempDirectory("graft_main_all").toString
    val sWin = java.nio.file.Files.createTempDirectory("graft_main_win").toString
    val dir = "/root/testdata/sf0.001"
    val all = Pipeline.run(spark, dir, sAll)
    val win = Pipeline.run(spark, dir, sWin,
      startDate = Some("2024-01-10"), endDate = Some("2024-01-20"))
    val expected = graft.sources.Tables.conversions(spark, dir)
      .filter(col("conv_date") >= lit("2024-01-10").cast("date") &&
        col("conv_date") <= lit("2024-01-20").cast("date")).count()
    assert(win.candidateConversions === expected)
    assert(win.candidateConversions < all.candidateConversions)
    assert(win.newConversions === expected)
  }
}
