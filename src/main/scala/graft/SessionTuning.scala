package graft

import org.apache.spark.sql.SparkSession

/** Session-level performance defaults shared by every harness main
  * (Bench/Verify/PlanAudit/tests) so their sessions are configured
  * identically — a tuning change lands once.
  *
  * Checkpoint file manager (guide §7.3, measured with thread dumps):
  * this image ships no libhadoop, so every `FileContext.rename` on the
  * local filesystem falls back to `Shell.execCommand` — a SUBPROCESS
  * FORK per checkpoint file (Hadoop's RawLocalFileSystem resolves
  * symlink/permission metadata by exec'ing `readlink`/`ls`). A
  * streaming drain commits offset log + commit log + one delta per
  * state store per micro-batch (a stream-stream join keeps 4 stores
  * per partition), so the default FileContext-based manager paid
  * hundreds of forks per drain — jstack showed the
  * ChecksumCheckpointFileManager pool pinned in ProcessImpl.forkAndExec
  * while executor tasks sat idle, and state-store commit times of
  * ~400 ms for kilobyte deltas. The FileSystem-based manager (a
  * documented CheckpointFileManager the streaming guide prescribes for
  * filesystems without a FileContext implementation) runs the SAME
  * rename-based atomic-write protocol through the FileSystem API,
  * which on RawLocalFileSystem is a plain `File.renameTo` — no
  * subprocess. Same-session interleaved A/B (BenchOne conf variants,
  * min of 4): q273 9.56 s → 4.55 s; q281 26.5 s → 8.5 s.
  *
  * Scale posture: this is a LOCAL-FILESYSTEM default, not a cluster
  * claim — on HDFS the FileContext manager is native and preferred;
  * a deployment overrides via `SPARK_GRAFT_CKPT_FM` (any value, e.g.
  * the FileContext class name, or `default` to leave Spark's own
  * default in place). Results are unaffected either way: both
  * managers implement the same atomic rename contract, and every
  * drain's output stays oracle-checked.
  */
object SessionTuning {

  val FileSystemCkptManager: String =
    "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"

  /** Apply the shared defaults to a session builder. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.getOrElse("SPARK_GRAFT_CKPT_FM", FileSystemCkptManager) match {
      case "default" => b
      case cls =>
        b.config("spark.sql.streaming.checkpointFileManagerClass", cls)
    }
  }
}
