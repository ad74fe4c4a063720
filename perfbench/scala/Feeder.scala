package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{Broker, KafkaWire}

/** The load process, separate from the pipeline JVM: hosts the Kafka
  * wire broker on loopback and fills topic `events` from a JSON-lines
  * file.
  *
  * bridge: produces the whole file as a backlog, writes `broker`, then
  *   serves until its stdin closes.
  * stream: produces the first `--warm_msgs` lines at once, writes
  *   `broker`, waits for the pipeline's `pipe_ready`, then sends the rest
  *   on an open-loop schedule of `--rate` msg/s that never waits for the
  *   pipeline. Each message carries its due time (`due_us`, epoch µs) in
  *   the JSON body. Writes `feeder_done` (JSON: schedule start, sent
  *   count, how late the sender ran) and serves until stdin closes.
  */
object Feeder {
  /** Write a file whole: readers poll for its name. */
  def publish(dir: String, name: String, text: String): Unit = {
    Files.writeString(Paths.get(dir, name + ".tmp"), text)
    Files.move(Paths.get(dir, name + ".tmp"), Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val dir = a("dir")
    val parts = a("partitions").toInt
    val lines = Files.readAllLines(Paths.get(a("input"))).asScala.toVector
    val server = new KafkaWire.Server(maxFetchRecords = a("fetch_records").toInt)
    val addr = s"kafka://127.0.0.1:${server.port}"
    val t = Broker.transportFor(addr)
    t.createTopic("events", parts)
    def rec(i: Int, line: String, tsMs: Long) =
      Broker.Record(i.toString.getBytes("UTF-8"), line.getBytes("UTF-8"), Map.empty, tsMs)
    def produce(idx: Seq[Int], body: Int => String, tsMs: Long): Unit =
      idx.groupBy(_ % parts).foreach { case (p, is) =>
        is.grouped(5000).foreach(ch => t.append("events", p, ch.map(i => rec(i, body(i), tsMs))))
      }
    a("mode") match {
      case "bridge" =>
        produce(lines.indices, lines, System.currentTimeMillis())
        publish(dir, "broker", addr)
      case "stream" =>
        val warm = a("warm_msgs").toInt
        val rate = a("rate").toDouble
        def withDue(i: Int, dueUs: Long) = "{\"due_us\":" + dueUs + "," + lines(i).drop(1)
        val nowUs0 = System.currentTimeMillis() * 1000L
        produce(0 until warm, i => withDue(i, nowUs0), nowUs0 / 1000L)
        publish(dir, "broker", addr)
        val ready = Paths.get(dir, "pipe_ready")
        while (!Files.exists(ready)) Thread.sleep(1)
        // open loop: message k (k = 0 .. n-1) is due at t0 + k / rate
        val offUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
        def nowUs() = System.nanoTime() / 1000L + offUs
        val t0 = nowUs()
        val n = lines.size - warm
        var next = 0
        var lateMaxUs = 0L
        while (next < n) {
          val now = nowUs()
          val dueCount = math.min(n, ((now - t0) * rate / 1e6).toLong + 1).toInt
          if (dueCount > next) {
            val due = (k: Int) => t0 + (k * 1e6 / rate).toLong
            lateMaxUs = math.max(lateMaxUs, now - due(next))
            val idx = next until dueCount
            idx.groupBy(k => (warm + k) % parts).foreach { case (p, ks) =>
              t.append("events", p, ks.map(k => rec(warm + k, withDue(warm + k, due(k)), due(k) / 1000L)))
            }
            next = dueCount
          } else Thread.sleep(0, 200000)
        }
        val end = nowUs()
        publish(dir, "feeder_done",
          s"""{"t0_us":$t0,"end_us":$end,"sent":$n,"warm":$warm,"rate":$rate,"late_ms_max":${lateMaxUs / 1000.0}}""")
    }
    // serve until the parent closes our stdin
    while (System.in.read() >= 0) ()
    KafkaWire.dropClient(s"127.0.0.1:${server.port}")
    server.stop()
    System.exit(0)
  }
}
