package perfbench

/** Just enough JSON writing for the runner's result file. Values are
  * passed pre-rendered: numbers as their decimal text, strings through
  * [[str]]. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
  def writeFile(path: String, json: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
  }
}
