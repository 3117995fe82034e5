package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{EtlConfig, WriteDisposition}

class ConfigSpec extends AnyFunSuite {
  private val full = Map(
    "PROJECT_ID" -> "p", "GCS_BUCKET" -> "file:///tmp/b/",
    "BQ_DATASET" -> "d", "BQ_TABLE" -> "t")

  test("loads valid config with derived URIs (reference config.py:24-31)") {
    val c = EtlConfig.fromMap(full)
    assert(c.inputUri == "file:///tmp/b/raw_data/traffic_spreadsheet.xls")
    assert(c.tableId == "p.d.t")
    assert(c.writeDisposition == WriteDisposition.Append)
  }

  test("collects ALL missing keys in one error (reference config.py:41-46)") {
    val e = intercept[ConfigError](EtlConfig.fromMap(Map("PROJECT_ID" -> "p")))
    assert(e.getMessage.contains("GCS_BUCKET"))
    assert(e.getMessage.contains("BQ_DATASET"))
    assert(e.getMessage.contains("BQ_TABLE"))
  }

  test("blank values count as missing") {
    val e = intercept[ConfigError](EtlConfig.fromMap(full + ("BQ_TABLE" -> "  ")))
    assert(e.getMessage.contains("BQ_TABLE"))
  }

  test(".env file loads, with process env taking precedence (config.py:34-38)") {
    val f = java.nio.file.Files.createTempFile("graft_env", ".env")
    java.nio.file.Files.writeString(f,
      """# pipeline config
        |PROJECT_ID=file-project
        |export GCS_BUCKET="file:///tmp/envbucket"
        |BQ_DATASET='envds'
        |BQ_TABLE=envtable  # inline comment stripped from unquoted values
        |BQ_WRITE_DISPOSITION=truncate
        |
        |not a key value line
        |""".stripMargin)
    // no overriding env: every value comes from the file, with comments,
    // export prefix, and both quote styles handled
    val fromFile = EtlConfig.fromEnvFile(f.toString, env = Map.empty)
    assert(fromFile.projectId == "file-project")
    assert(fromFile.bucketUri == "file:///tmp/envbucket")
    assert(fromFile.dataset == "envds")
    assert(fromFile.table == "envtable")
    assert(fromFile.writeDisposition == WriteDisposition.Truncate)
    // dotenv no-override semantics: an already-set env var beats the file
    val merged = EtlConfig.fromEnvFile(f.toString,
      env = Map("PROJECT_ID" -> "env-project"))
    assert(merged.projectId == "env-project")
    assert(merged.dataset == "envds") // gaps still filled from the file
    java.nio.file.Files.delete(f)
  }

  test("missing env file is a ConfigError") {
    val e = intercept[ConfigError](
      EtlConfig.fromEnvFile("/nonexistent/graft.env", env = Map.empty))
    assert(e.getMessage.contains("/nonexistent/graft.env"))
  }

  test("disposition enum validated (reference config.py:47-54)") {
    assert(EtlConfig.fromMap(full + ("BQ_WRITE_DISPOSITION" -> "truncate"))
      .writeDisposition == WriteDisposition.Truncate)
    assert(EtlConfig.fromMap(full + ("BQ_WRITE_DISPOSITION" -> "Append"))
      .writeDisposition == WriteDisposition.Append)
    val e = intercept[ConfigError](
      EtlConfig.fromMap(full + ("BQ_WRITE_DISPOSITION" -> "replace")))
    assert(e.getMessage.contains("replace"))
  }

  test("EtlCli accepts only run [--truncate]; a mistyped flag is an error") {
    import graft.pipeline.EtlCli.parseArgs
    assert(parseArgs(Seq("run")) == Right(false))
    assert(parseArgs(Seq("run", "--truncate")) == Right(true))
    // a typo must not fall back to append and load the day twice
    assert(parseArgs(Seq("run", "--truncat")) ==
      Left("Unrecognized arguments: --truncat"))
    assert(parseArgs(Seq("run", "--truncate", "extra")) ==
      Left("Unrecognized arguments: extra"))
    assert(parseArgs(Seq("load")) == Left("Unknown command: load"))
    assert(parseArgs(Seq.empty).isLeft)
  }
}
