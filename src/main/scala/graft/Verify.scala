package graft

/** The correctness dump's original entry point,
  * `sbt "runMain graft.Verify <sfDir> <outDir>"`: [[Tool]]'s `verify` verb,
  * kept for callers that run this name and read its output directory. It
  * keeps this entry point's exit code too: a failed gate is logged to
  * stderr and the run still exits 0, where `Tool verify` exits 1.
  */
object Verify {
  def main(args: Array[String]): Unit = Tool.execute("verify" +: args.toSeq)
}
