package graft.sinks

import org.scalatest.{BeforeAndAfterEach, Suite}

/** Starts localhost [[FakeAgolServer]]s for a suite and stops each one
  * after the test that started it: a running server holds a bound
  * socket and a non-daemon dispatcher thread in the test JVM. */
trait FakeAgolServers extends BeforeAndAfterEach { this: Suite =>
  private val started = collection.mutable.ListBuffer.empty[FakeAgolServer]

  protected def startServer(prefix: String): FakeAgolServer = {
    val server = new FakeAgolServer(
      new Portal(java.nio.file.Files.createTempDirectory(prefix).toString),
      "gcoos", "fixture-pass")
    started += server
    server
  }

  override def afterEach(): Unit =
    try { started.foreach(_.stop()); started.clear() }
    finally super.afterEach()
}
