package org.apache.spark.graft

import org.apache.spark.sql.graft.ScratchDir
import org.apache.spark.util.ShutdownHookManager
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Scratch state of queries and plan audits is deleted when the JVM exits.
  * Lives in the spark package for `ShutdownHookManager`. */
class ScratchDirSpec extends AnyFunSuite {

  test("ScratchDir makes a fresh directory registered for deletion at JVM exit") {
    val a = new java.io.File(ScratchDir("graft-scratch-test"))
    val b = new java.io.File(ScratchDir("graft-scratch-test"))
    assert(a.isDirectory && a.getName.startsWith("graft-scratch-test-"))
    assert(a != b, "each call makes its own directory")
    assert(ShutdownHookManager.hasShutdownDeleteDir(a))
    assert(ShutdownHookManager.hasShutdownDeleteDir(b))
  }

  test("queries and plan audits make no temp directory that outlives the JVM") {
    for (f <- Seq("src/main/scala/graft/Queries.scala", "src/main/scala/graft/tools/PlanAudit.scala")) {
      val src = new String(Files.readAllBytes(Paths.get(f)), UTF_8)
      assert(!src.contains("createTempDirectory"), s"$f must make scratch dirs with ScratchDir")
    }
  }
}
