package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core.JobSettings

/** Three-way CLI settings resolution, mirroring the reference's tests
  * of job_entrypoint (tests/test_smartspim_job.py:117-201): inline
  * JSON, config file, and env/flag fallback. */
class SettingsResolutionSpec extends AnyFunSuite {

  private val json =
    """{"input_source": "/in", "output_directory": "/out",
      |"num_of_partitions": 4, "partition_to_process": 2,
      |"compressor_name": "blosc",
      |"compressor_kwargs": {"cname": "zstd", "clevel": 5, "shuffle": 1},
      |"chunk_size": [64, 64, 64], "scale_factor": [2, 2, 2],
      |"downsample_levels": 3, "unknown_key": true}""".stripMargin

  test("--job-settings inline JSON wins and parses pydantic field names") {
    val s = SmartSpimMain.settingsFrom(
      Array("--job-settings", json, "--input-source", "/ignored"), Map.empty)
    assert(s.inputSource == "/in" && s.outputDirectory == "/out")
    assert(s.numOfPartitions == 4 && s.partitionToProcess == 2)
    assert(s.compressorLevel == 5)
    assert(s.chunkSize == Seq(64, 64, 64) && s.downsampleLevels == 3)
  }

  test("-j short flag is accepted") {
    val s = SmartSpimMain.settingsFrom(Array("-j", json), Map.empty)
    assert(s.inputSource == "/in" && s.compressorLevel == 5)
  }

  test("--config-file path is read and parsed") {
    val f = Files.createTempFile("graft-settings", ".json")
    Files.writeString(f, json)
    val s = try SmartSpimMain.settingsFrom(Array("--config-file", f.toString), Map.empty)
      finally Files.delete(f)
    assert(s.outputDirectory == "/out" && s.numOfPartitions == 4)
  }

  test("TRANSFORMATION_JOB_* env vars fill in when flags are absent") {
    val s = SmartSpimMain.settingsFrom(Array.empty,
      Map("TRANSFORMATION_JOB_INPUT_SOURCE" -> "/env/in",
        "TRANSFORMATION_JOB_OUTPUT_DIRECTORY" -> "/env/out",
        "TRANSFORMATION_JOB_DOWNSAMPLE_LEVELS" -> "2"))
    assert(s.inputSource == "/env/in" && s.outputDirectory == "/env/out")
    assert(s.downsampleLevels == 2)
  }

  test("flags override env; defaults apply last") {
    val s = SmartSpimMain.settingsFrom(
      Array("--input-source", "/cli/in", "--output-directory", "/cli/out"),
      Map("TRANSFORMATION_JOB_INPUT_SOURCE" -> "/env/in"))
    assert(s.inputSource == "/cli/in")
    assert(s.chunkSize == Seq(128, 128, 128) && s.downsampleLevels == 4)
  }

  test("fromJson rejects missing required fields") {
    intercept[IllegalArgumentException](JobSettings.fromJson("""{"input_source": "/in"}"""))
  }

  private def minimal(kwargs: String) =
    s"""{"input_source": "/in", "output_directory": "/out",
       |"compressor_kwargs": $kwargs}""".stripMargin

  test("compressor_kwargs.shuffle maps 0/1 to byteShuffle; 2 (bitshuffle) rejected") {
    assert(!JobSettings.fromJson(minimal("""{"shuffle": 0}""")).byteShuffle)
    assert(JobSettings.fromJson(minimal("""{"shuffle": 1}""")).byteShuffle)
    assert(JobSettings.fromJson(minimal("{}")).byteShuffle) // reference default
    intercept[IllegalArgumentException](JobSettings.fromJson(minimal("""{"shuffle": 2}""")))
  }

  test("compressor_kwargs.cname accepts zstd and lz4, rejects other codecs loudly") {
    assert(JobSettings.fromJson(minimal("""{"cname": "zstd"}""")).compressorCname == "zstd")
    assert(JobSettings.fromJson(minimal("""{"cname": "lz4"}""")).compressorCname == "lz4")
    assert(JobSettings.fromJson(minimal("{}")).compressorCname == "zstd") // reference default
    val e = intercept[IllegalArgumentException](
      JobSettings.fromJson(minimal("""{"cname": "zlib"}""")))
    assert(e.getMessage.contains("zlib"))
  }
}
