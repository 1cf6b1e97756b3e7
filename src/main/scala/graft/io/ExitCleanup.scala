package graft.io

/** Directory trees removed when the JVM exits: one shutdown hook per root,
  * registered at most once, deleting the whole tree. For per-process
  * scratch roots that nothing reads after the process ends. */
object ExitCleanup {
  private val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def register(root: String): Unit =
    if (roots.add(root)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(root))
      }))
    }

  def isRegistered(root: String): Boolean = roots.contains(root)
}
