package graft

import org.apache.spark.sql.SparkSession

/** Thin CLI entry point mirroring the reference's `main.py:26-90`
  * (`parse_arguments` / `validate_dates`): named arguments, the same
  * YYYY-MM-DD validation and error messages, then one [[Pipeline.run]]
  * over the parquet tables plus an optional CSV report export
  * (`reporting.py:105-189`'s file output).
  *
  * Flags (reference flag → here): `--db_path` → `--sf_dir` (the parquet
  * table directory is this engine's database), `--output_path` →
  * `--output_path`, `--start_date`/`--end_date` unchanged;
  * `--sql_file`/`--rate_limit_delay` have no analog (no DDL to run, no
  * remote API to throttle). `--state_dir` locates the pipeline's
  * manifest/state directory (the SQLite file's other role).
  */
object Main {

  final case class Config(
      sfDir: String = "/root/testdata/sf0.001",
      stateDir: String = "",
      startDate: Option[String] = None,
      endDate: Option[String] = None,
      outputPath: Option[String] = None)

  /** Reference `validate_dates` (`main.py:72-112`): format check on each
    * date, then range check; `Left` carries the reference's exact error
    * message. */
  def validateDates(
      startDate: Option[String], endDate: Option[String]): Either[String, Unit] = {
    def parse(s: String): Option[java.time.LocalDate] =
      try Some(java.time.LocalDate.parse(s,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")))
      catch { case _: java.time.format.DateTimeParseException => None }
    (startDate, startDate.flatMap(parse)) match {
      case (Some(s), None) =>
        return Left(s"Invalid start_date format: $s. Expected YYYY-MM-DD")
      case _ => ()
    }
    (endDate, endDate.flatMap(parse)) match {
      case (Some(e), None) =>
        return Left(s"Invalid end_date format: $e. Expected YYYY-MM-DD")
      case _ => ()
    }
    (startDate.flatMap(parse), endDate.flatMap(parse)) match {
      case (Some(s), Some(e)) if s.isAfter(e) =>
        Left(s"start_date (${startDate.get}) is after end_date (${endDate.get})")
      case _ => Right(())
    }
  }

  /** Reference `parse_arguments` (`main.py:26-70`): `--flag value` pairs,
    * unknown flags rejected. */
  def parseArguments(args: Array[String]): Either[String, Config] = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Either[String, Config] = rest match {
      case Nil => Right(c)
      case flag :: value :: tail => flag match {
        case "--sf_dir"      => loop(tail, c.copy(sfDir = value))
        case "--state_dir"   => loop(tail, c.copy(stateDir = value))
        case "--start_date"  => loop(tail, c.copy(startDate = Some(value)))
        case "--end_date"    => loop(tail, c.copy(endDate = Some(value)))
        case "--output_path" => loop(tail, c.copy(outputPath = Some(value)))
        case other           => Left(s"Unknown argument: $other")
      }
      case flag :: Nil => Left(s"Missing value for argument: $flag")
    }
    loop(args.toList, Config()).flatMap { c =>
      validateDates(c.startDate, c.endDate).map(_ => c)
    }
  }

  /** Parse + validate + run; returns the exit code (0 ok, 1 invalid args —
    * `main.py`'s `sys.exit(1)` on validation failure) so specs can drive
    * it without killing the JVM. */
  def runCli(args: Array[String], spark: SparkSession): Int =
    parseArguments(args) match {
      case Left(err) =>
        System.err.println(err)
        1
      case Right(c) =>
        val stateDir =
          if (c.stateDir.nonEmpty) c.stateDir
          else java.nio.file.Files.createTempDirectory("graft_cli_state").toString
        val summary = Pipeline.run(spark, c.sfDir, stateDir,
          endDate = c.endDate, startDate = c.startDate)
        c.outputPath.foreach(p =>
          operators.Reporting.exportCsv(Pipeline.report(spark, stateDir), p))
        println(s"candidate_conversions=${summary.candidateConversions} " +
          s"new_conversions=${summary.newConversions} " +
          s"total_rows=${summary.totalRows}")
        0
    }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val code = try runCli(args, spark) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
