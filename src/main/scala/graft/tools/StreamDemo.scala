package graft.tools

import graft.core._
import graft.streaming.MultiplexedDelivery

/** Sample-usage driver for the streaming engine — the flow a user of the
  * reference would run (emit → subscribe → read → ack), through the
  * public API. Run: sbt "runMain graft.tools.StreamDemo" */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = ToolConf.session("4")
    val engine = new MultiplexedDelivery(spark)
    engine.start()
    val g = engine.addGroup("demo", ResourceType.Project, "proj-42",
      Hierarchy(projectId = "proj-42"), includeSubresources = true)
    println(s"group ${g.id} filter=${g.filterSubject}")
    engine.emit(ResourceType.Project, EventType.All, "proj-42", RelationCtx())
    engine.emit(ResourceType.Collection, EventType.All, "coll-7", RelationCtx(project = "proj-42"))
    engine.emit(ResourceType.Object, EventType.All, "obj-1",
      RelationCtx(project = "proj-42", collection = "coll-7", sharedObject = "sh-1",
        objectGroups = Seq("grp-1")))
    engine.emit(ResourceType.Project, EventType.All, "other-project", RelationCtx())
    engine.processAllAvailable()
    val chunks = engine.pendingChunks("demo")
    println(s"pending chunks: ${chunks.size}")
    chunks.foreach(c => println(s"  chunk ${c.chunkId}: subjects=${c.subjects.mkString("; ")}"))
    chunks.foreach(c => println(s"  ack(${c.chunkId}) -> ${engine.ack("demo", c.chunkId)}"))
    println(s"pending after ack: ${engine.pendingChunks("demo").size}")
    engine.stop(); spark.stop()
  }
}
