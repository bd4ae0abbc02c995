package perfbench

import graft.Model
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** One pre-written change-log file waiting in the staging dir. */
final case class Staged(path: Path, rows: Long, malformed: Long)

/** Seeded change-log generator. Everything it writes is a pure function of
  * the seed and the sizes, so one seed always gives the same files. The
  * program under test sees only the parquet files. */
object LoadGen {
  /** Commit timestamps start here and rise with `seq`, so (ts, seq) order
    * is commit order. */
  val baseMicros = 1700000000000000L
  val categories = 20
  val names = 5000

  private def cells(name: Column, cat: Column, v: Column): Column = array(
    struct(lit("f").as("family"), lit("name").as("qualifier"), concat(lit("n"), name).as("value")),
    struct(lit("f").as("family"), lit("cat").as("qualifier"), concat(lit("c"), cat).as("value")),
    struct(lit("f").as("family"), lit("val").as("qualifier"), lpad(v.cast("string"), 3, "0").as("value")))

  private type Column = org.apache.spark.sql.Column

  /** One upsert for each of the keys k0..k(n-1): a standing index. */
  def bootstrap(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def u(tag: String, m: Long) = pmod(xxhash64(lit(seed), col("id"), lit(tag)), lit(m))
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).select(
      concat(lit("k"), col("id").cast("string")).as("row_key"),
      lit("U").as("op"),
      timestamp_micros(lit(baseMicros) + col("id") * 1000L).as("ts"),
      col("id").as("seq"),
      cells(u("name", names), u("cat", categories), u("val", 1000L)).as("cells"))
  }

  /** Zipf-keyed trickle over keys k0..k(keySpace-1) (rank 1 = k0, the
    * hottest): `nFiles` files of `perFile` mutations with `deleteFrac`
    * deletes and `malformedFrac` malformed rows (half a null row key,
    * half an unknown op), seqs from `seq0`. */
  def zipfTrickle(spark: SparkSession, seed: Long, tmp: Path, stage: Path, prefix: String,
                  nFiles: Int, perFile: Int, keySpace: Int, skew: Double,
                  deleteFrac: Double, malformedFrac: Double, seq0: Long): Seq[Staged] = {
    val cdf = {
      val w = (1 to keySpace).map(r => 1.0 / math.pow(r, skew))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    val rnd = new java.util.SplittableRandom(seed)
    val malformed = new Array[Long](nFiles)
    val rows = (0 until nFiles).map { f =>
      (0 until perFile).map { i =>
        val seq = seq0 + f.toLong * perFile + i
        val rank = {
          val ix = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
          math.min(if (ix >= 0) ix else -ix - 1, keySpace - 1)
        }
        val r = rnd.nextDouble()
        val ts = new java.sql.Timestamp(baseMicros / 1000L + seq)
        val key = s"k$rank"
        val upsertCells = Seq(
          Row("f", "name", s"n${rnd.nextInt(names)}"),
          Row("f", "cat", s"c${rnd.nextInt(categories)}"),
          Row("f", "val", f"${rnd.nextInt(1000)}%03d"))
        if (r < malformedFrac) {
          malformed(f) += 1
          if (r < malformedFrac / 2) Row(null, "U", ts, seq, upsertCells)
          else Row(key, "X", ts, seq, upsertCells)
        } else if (r < malformedFrac + deleteFrac) Row(key, "D", ts, seq, Seq.empty[Row])
        else Row(key, "U", ts, seq, upsertCells)
      }
    }
    val schema = StructType(Model.mutationSchema.fields.map(_.copy(nullable = true)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, nFiles).flatMap(identity), schema)
    writeFiles(df, tmp, stage, prefix, nFiles).zipWithIndex
      .map { case (p, f) => Staged(p, perFile.toLong, malformed(f)) }
  }

  /** Write `df`, whose partition i holds exactly file i's rows, as one
    * parquet file per partition, moved into `stage` as `<prefix><i>.parquet`. */
  private def writeFiles(df: DataFrame, tmp: Path, stage: Path, prefix: String,
                         nFiles: Int): Seq[Path] = {
    df.write.mode("overwrite").parquet(tmp.toString)
    Files.createDirectories(stage)
    val part = "part-(\\d+)-.*\\.parquet".r
    val byPartition = Fs.list(tmp).flatMap(p => p.getFileName.toString match {
      case part(i) => Some(i.toInt -> p)
      case _ => None
    }).toMap
    require(byPartition.keySet == (0 until nFiles).toSet,
      s"expected $nFiles generated files, found partitions ${byPartition.keys.toSeq.sorted}")
    val out = (0 until nFiles).map { f =>
      val dst = stage.resolve(f"$prefix$f%05d.parquet")
      Files.move(byPartition(f), dst, StandardCopyOption.ATOMIC_MOVE)
      dst
    }
    Fs.delete(tmp)
    out
  }
}

/** File-system helpers for the benchmark's own directories. */
object Fs {
  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.sortBy(_.toString)
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  def bytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}
