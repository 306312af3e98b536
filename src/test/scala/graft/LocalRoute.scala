package graft

/** Scoped setting of the bounded-local route budget (`graft.local.max`,
  * driver bytes) for tests: `off` runs the body distributed-only, the
  * way every parity test gets its reference result. Suites run one at a
  * time in the forked test JVM, so a save-and-restore of the system
  * property is not raced. */
object LocalRoute {
  private val Key = "graft.local.max"

  def withMax[A](bytes: Long)(body: => A): A = {
    val before = sys.props.get(Key)
    sys.props(Key) = bytes.toString
    try body
    finally before match {
      case Some(v) => sys.props(Key) = v
      case None => sys.props.remove(Key)
    }
  }

  def off[A](body: => A): A = withMax(0L)(body)
}
