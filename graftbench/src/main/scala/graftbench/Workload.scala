package graftbench

/** The outcome of one output check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One benchmark workload: a repeated operation on inputs made from the
  * seed, and the checks on its outputs.
  */
trait Workload {

  /** Work items one operation completes: products, or queries. */
  def items: Int

  /** Runs one operation and returns how many of its items failed. Layer
    * calls are wrapped in spans of `t`, which records nothing when the
    * run is untraced.
    */
  def op(t: Tracer): Int

  /** Bookkeeping after an operation, outside its timing: hashing and
    * removing its outputs.
    */
  def settle(): Unit = ()

  /** Steady operations a run makes after the first. A fixed count, not a
    * time, so that every run attempts the same operations and ends with
    * the same retained state.
    */
  def steadyOps: Int

  /** Checks of the outputs, made after the timed operations. */
  def checks(): Seq[Check]

  /** Drops what the workload holds, before the heap is measured. */
  def close(): Unit = ()
}

object Workload {
  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def sha256(path: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(path)).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Bytes of every file directly under `dir` whose name starts with `prefix`. */
  def bytesWritten(dir: java.io.File, prefix: String): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith(prefix)).map(_.length).sum
}
