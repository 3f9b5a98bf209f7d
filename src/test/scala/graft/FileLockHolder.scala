package graft

import graft.streaming.FileDocumentStore
import graft.streaming.AnsModel._

/** A writer that dies inside [[FileDocumentStore]]'s critical section:
  * it updates `<id>` under `<root>`, and where the update would write it
  * prints `held`, waits [[HoldMs]] and halts the JVM without writing.
  * StreamingSpec starts it as a separate process.
  *
  *   java -cp <test classpath> graft.FileLockHolder <root> <id>
  */
object FileLockHolder {
  val HoldMs = 1000L

  def main(args: Array[String]): Unit = {
    val Array(root, id) = args
    val store = new FileDocumentStore(root) {
      override def upsert(doc: AnsDoc): Unit = {
        println("held")
        System.out.flush()
        Thread.sleep(HoldMs)
        Runtime.getRuntime.halt(0)
      }
    }
    store.update(id)(c => c.get.copy(revision = Some(-1L)))
  }
}
