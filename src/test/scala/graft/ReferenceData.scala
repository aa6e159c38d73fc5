package graft

/** Paths into the reference checkout (data/, qrels/, runs/) that the
  * golden-parity specs read. The root is `$GRAFT_REFERENCE_DIR`, else
  * `reference/` under the user's home directory. A missing file fails the
  * calling test with its full path — resolve inside a test body, never at
  * suite construction, so one missing file fails one test, not a suite.
  */
object ReferenceData {
  val root: String = sys.env.getOrElse("GRAFT_REFERENCE_DIR",
    s"${sys.props("user.home")}/reference")

  def apply(relative: String): String = {
    val path = s"$root/$relative"
    assert(new java.io.File(path).exists(),
      s"reference data not found: $path (set GRAFT_REFERENCE_DIR to the reference checkout)")
    path
  }
}
