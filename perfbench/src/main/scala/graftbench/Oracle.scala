package graftbench

/** Runs the library's `graft.Verify` main, unchanged, once per input in a
  * single JVM, so that checking several inputs pays JVM start-up once.
  *
  * Arguments: groups of `DATA_DIR OUT_DIR QUERY...`, separated by `--`. */
object Oracle {
  def main(args: Array[String]): Unit = {
    val groups = args.foldLeft(List(List.empty[String])) {
      case (acc, "--") => Nil :: acc
      case (cur :: rest, a) => (cur :+ a) :: rest
      case (Nil, a) => List(List(a))
    }.reverse.filter(_.nonEmpty)
    groups.foreach(g => graft.Verify.main(g.toArray))
  }
}
