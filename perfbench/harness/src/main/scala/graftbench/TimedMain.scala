package graftbench

/** Runs another program's `main` unchanged and records, from a shutdown
  * hook, its in-process wall time: entry to `main` up to JVM exit. The
  * untraced reference for the traced replay.
  *
  * {{{ TimedMain REPORT_FILE MAIN_CLASS ARGS... }}}
  */
object TimedMain {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Json.writeFile(args(0),
        Map("in_process_s" -> (System.nanoTime() - t0) / 1e9))))
    val entry = Class.forName(args(1))
      .getMethod("main", classOf[Array[String]])
    try entry.invoke(null, args.drop(2))
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }
}
