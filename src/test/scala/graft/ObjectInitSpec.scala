package graft

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite

/** First use of the operator objects from parallel threads must not
  * deadlock. A Scala object initializes under its class's init lock, so
  * two objects whose initializers reach each other (`Dedup` building a
  * SQL string through `TextAnalysis` while `TextAnalysis` builds one
  * through `Dedup`) deadlock when two threads touch them first at the
  * same time. Each trial loads the `graft.` classes afresh in their own
  * class loader, so every trial is a first use.
  */
class ObjectInitSpec extends AnyFunSuite {

  /** Defines every `graft.` class itself, from the parent's bytes, and
    * delegates everything else.
    */
  private final class GraftFirstLoader(parent: ClassLoader)
      extends ClassLoader(parent) {
    override def loadClass(name: String, resolve: Boolean): Class[_] =
      getClassLoadingLock(name).synchronized {
        if (!name.startsWith("graft.")) super.loadClass(name, resolve)
        else Option(findLoadedClass(name)).getOrElse {
          val in = parent.getResourceAsStream(
            name.replace('.', '/') + ".class")
          if (in == null) throw new ClassNotFoundException(name)
          val bytes = try in.readAllBytes() finally in.close()
          defineClass(name, bytes, 0, bytes.length)
        }
      }
  }

  test("Dedup, TextAnalysis and Ann initialize from parallel first " +
      "uses without deadlock") {
    val objects = Seq("graft.operators.Dedup$",
      "graft.functions.TextAnalysis$", "graft.operators.Ann$")
    (1 to 10).foreach { trial =>
      val loader = new GraftFirstLoader(getClass.getClassLoader)
      val go = new CountDownLatch(1)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = objects.map { name =>
        val t = new Thread(() =>
          try {
            go.await()
            Class.forName(name, true, loader)
          } catch { case e: Throwable => failures.add(e) })
        // a deadlocked thread must not keep the test JVM alive
        t.setDaemon(true)
        t.start()
        t
      }
      go.countDown()
      threads.foreach(_.join(60000L))
      val stuck = objects.zip(threads).collect {
        case (name, t) if t.isAlive => name }
      assert(stuck.isEmpty,
        s"trial $trial: first use deadlocked in ${stuck.mkString(", ")}")
      assert(failures.isEmpty, s"trial $trial: ${failures.peek()}")
    }
  }
}
