package graftbench

/** Generates the benchmark's data sets when missing.
  *
  * Usage: GenMain ROOT CORES SCALE VERSION — writes `ROOT/data/SCALE`,
  * SCALE being "sf0.1" or "x10", stamped with the generator VERSION. */
object GenMain {
  def main(args: Array[String]): Unit = {
    val root = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val spark = Env.session(args(1).toInt, root)
    val scale = args(2)
    try {
      val t0 = System.nanoTime()
      DataGen.ensure(spark, root.resolve("data").resolve(scale), scale, args(3))
      println(s"""{"scale":"$scale","generate_s":${(System.nanoTime() - t0) / 1e9}}""")
    } finally spark.stop()
  }
}
