package graft

import graft.operators.HeurFuzz

/** Reference-compatible CLI (entry point E1, /root/reference/src/heurFuzz.py:172-192):
  *
  *   graft.Main -q <query file> -r <ref file> -o <output file>
  *              [-n topN=10] [-s scoreCutOff=90] [-b bufferSize=500]
  *
  * `-b/--bufferSize` is accepted and ignored: the reference needs it for its
  * fixed-width uint8 string matrix; Spark strings are variable-width
  * (documented divergence, SURVEY §2 op 1).
  */
object Main {

  private val usage =
    "usage: graft.Main -q QUERY -r REFERENCE -o OUTPUTFILE [-n TOPN] [-s SCORECUTOFF] [-b BUFFERSIZE]"

  def main(args: Array[String]): Unit = {
    var query: Option[String] = None
    var ref: Option[String] = None
    var out: Option[String] = None
    var params = HeurFuzz.Params()
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) {
        System.err.println(s"missing value for $flag\n$usage"); sys.exit(2)
      }
      args(i + 1)
    }
    def intValue(flag: String): Int = {
      val v = value(flag)
      try v.toInt
      catch {
        case _: NumberFormatException =>
          System.err.println(s"$flag expects an integer, got '$v'\n$usage"); sys.exit(2)
      }
    }
    while (i < args.length) {
      args(i) match {
        case f @ ("-q" | "--query")       => query = Some(value(f)); i += 2
        case f @ ("-r" | "--reference")   => ref = Some(value(f)); i += 2
        case f @ ("-o" | "--OutputFile")  => out = Some(value(f)); i += 2
        case f @ ("-n" | "--topN")        => params = params.copy(topK = intValue(f)); i += 2
        case f @ ("-s" | "--scoreCutOff") => params = params.copy(scoreCutoff = intValue(f)); i += 2
        case f @ ("-b" | "--bufferSize")  => intValue(f); i += 2
        case "-h" | "--help"              => println(usage); return
        case other =>
          System.err.println(s"unknown argument: $other\n$usage"); sys.exit(2)
      }
    }
    (query, ref, out) match {
      case (Some(q), Some(r), Some(o)) =>
        val t0 = System.nanoTime()
        val spark = GraftSession.local()
        HeurFuzz.run(spark, q, r, o, params)
        // wall-clock minutes, 2dp, like the reference (heurFuzz.py:169-170)
        val took = math.round((System.nanoTime() - t0) / 6e10 * 100) / 100.0
        println(s"DONE! Took: $took minutes")
        spark.stop()
      case _ =>
        System.err.println(s"missing required argument(s)\n$usage"); sys.exit(2)
    }
  }
}
