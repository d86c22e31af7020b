package graft

import org.apache.spark.sql.SparkSession
import graft.core.JobSettings
import graft.imaging.SmartSpimJob

/** CLI entry point for the SmartSPIM conversion job — parity with the
  * reference's `job_entrypoint` settings resolution
  * (smartspim_job.py:240-255): explicit flags win, then
  * TRANSFORMATION_JOB_* environment variables, then defaults.
  *
  * Usage:
  *   spark-submit ... graft.SmartSpimMain \
  *     --input-source /data/SmartSPIM_...  --output-directory /out \
  *     [--num-of-partitions 1] [--partition-to-process 0]
  *     [--compressor-name blosc|none] [--chunk-size 128,128,128]
  *     [--scale-factor 2,2,2] [--downsample-levels 4]
  */
object SmartSpimMain {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("-") => k.dropWhile(_ == '-') -> v
    }.toMap

  /** Three-way settings resolution, highest priority first — exactly
    * the reference's job_entrypoint (smartspim_job.py:242-252):
    * `--job-settings <json>` → `--config-file <path>` → flags/env. */
  def settingsFrom(args: Array[String], env: Map[String, String]): JobSettings = {
    val cli = parseArgs(args)
    cli.get("job-settings").orElse(cli.get("j")).foreach { json =>
      return JobSettings.fromJson(json)
    }
    cli.get("config-file").foreach { path =>
      return JobSettings.fromJson(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"))
    }
    def get(flag: String, envKey: String): Option[String] =
      cli.get(flag).orElse(env.get(s"TRANSFORMATION_JOB_$envKey"))
    def ints(s: String): Seq[Int] = s.split(",").map(_.trim.toInt).toSeq
    JobSettings(
      inputSource = get("input-source", "INPUT_SOURCE")
        .getOrElse(throw new IllegalArgumentException("--input-source required")),
      outputDirectory = get("output-directory", "OUTPUT_DIRECTORY")
        .getOrElse(throw new IllegalArgumentException("--output-directory required")),
      s3Location = get("s3-location", "S3_LOCATION"),
      numOfPartitions = get("num-of-partitions", "NUM_OF_PARTITIONS").map(_.toInt).getOrElse(1),
      partitionToProcess = get("partition-to-process", "PARTITION_TO_PROCESS").map(_.toInt).getOrElse(0),
      compressorName = get("compressor-name", "COMPRESSOR_NAME").getOrElse("blosc"),
      compressorLevel = get("compressor-level", "COMPRESSOR_LEVEL").map(_.toInt).getOrElse(3),
      chunkSize = get("chunk-size", "CHUNK_SIZE").map(ints).getOrElse(Seq(128, 128, 128)),
      scaleFactor = get("scale-factor", "SCALE_FACTOR").map(ints).getOrElse(Seq(2, 2, 2)),
      downsampleLevels = get("downsample-levels", "DOWNSAMPLE_LEVELS").map(_.toInt).getOrElse(4))
  }

  def main(args: Array[String]): Unit = {
    val settings = settingsFrom(args, sys.env)
    val cpus = graft.core.Sessions.cpus()
    val builder = SparkSession.builder()
      .appName("smartspim-to-ome-zarr")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects spark.master; standalone runs default local
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[$cpus]")).getOrCreate()
    val t0 = System.nanoTime()
    val n = SmartSpimJob.runJob(spark, settings)
    val secs = (System.nanoTime() - t0) / 1e9
    // JobResponse parity (smartspim_job.py:232-234)
    println(s"""{"status_code": 200, "message": "Job finished: $n stacks in $secs s"}""")
    spark.stop()
  }
}
