package graft

/**
 * Executable whole-database push — the `taps push` verb
 * (`lib/taps/operation.rb:404-416`). For file-store destinations push and
 * pull are the same partitioned read → validate → idempotent write with the
 * roles of source and destination swapped (the HTTP asymmetry that made
 * them different code paths in the reference — who executes the scan vs the
 * import — dissolves into Spark's unified execution). The verbs only
 * diverge again at a JDBC edge, where [[sources.Jdbc.writeAdaptive]]
 * carries the bulk-import batch semantics.
 */
object Push {
  def main(args: Array[String]): Unit = Pull.main(args)
}
