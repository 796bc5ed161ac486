package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

/** In-process loopback stand-in for the chat-completions endpoint that
  * `graft.ai.HttpLlmScorer` calls.
  *
  * Each text gets a deterministic score ([[LlmStub.scoreOf]]), so the
  * fact table's `sentiment_score` can be checked exactly. A request costs
  * a fixed service time plus a smaller cost per text, spent parked (a
  * remote model's latency, not local CPU), and at most `threads` requests
  * are served at once. It answers both request shapes the scorer sends:
  * one prompt per request with `{"score": n}`, and a numbered batch with
  * `{"scores": [...]}`.
  */
final class LlmStub(threads: Int, serviceMicros: Long, perTextMicros: Long,
                    promptPrefix: String) {
  private val json = new ObjectMapper()
  // answer without Nagle's delay, as a serving endpoint does: the JDK
  // server otherwise adds a delayed-ACK stall to every small response
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)

  val requests = new AtomicLong
  val texts = new AtomicLong
  val errors = new AtomicLong
  val ok = new AtomicLong
  /** Request intervals (System.nanoTime) for busy time and concurrency. */
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  server.createContext("/v1/chat/completions", (ex: HttpExchange) => serve(ex))
  server.setExecutor(pool)
  server.start()

  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    val (status, body) =
      try {
        val req = json.readTree(ex.getRequestBody)
        val content = req.path("messages").path(0).path("content").asText("")
        val batch = LlmStub.batchTexts(content)
        val ts = batch.getOrElse(Seq(content.stripPrefix(promptPrefix)))
        texts.addAndGet(ts.size)
        LockSupport.parkNanos((serviceMicros + perTextMicros * ts.size) * 1000L)
        val answer = batch match {
          case Some(b) => b.map(LlmStub.scoreOf).mkString("{\"scores\": [", ", ", "]}")
          case None => s"""{"score": ${LlmStub.scoreOf(ts.head)}}"""
        }
        val msg = json.createObjectNode()
        msg.putArray("choices").addObject().putObject("message")
          .put("role", "assistant").put("content", answer)
        (200, json.writeValueAsBytes(msg))
      } catch {
        case scala.util.control.NonFatal(e) => (500, String.valueOf(e).getBytes("UTF-8"))
      }
    if (status == 200) ok.incrementAndGet() else errors.incrementAndGet()
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
    val t1 = System.nanoTime()
    intervals.synchronized { intervals += ((t0, t1)) }
  }

  def reset(): Unit = {
    requests.set(0); texts.set(0); errors.set(0); ok.set(0)
    intervals.synchronized(intervals.clear())
  }

  /** (busy seconds, mean requests in flight while busy). */
  def busy: (Double, Double) = {
    val iv = intervals.synchronized(intervals.toVector)
    val covered = Tracer.covered(iv)
    (covered / 1e9, if (covered == 0) 0.0 else iv.map { case (a, b) => b - a }.sum.toDouble / covered)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object LlmStub {
  /** The stub's deterministic answer for one text, in the rubric's [-5, 5]. */
  def scoreOf(text: String): Int = {
    val crc = new java.util.zip.CRC32
    crc.update(text.getBytes("UTF-8"))
    (crc.getValue % 11).toInt - 5
  }

  private val Item = """(?s)\n(\d+)\. """.r

  /** The texts of a batched prompt (`ResponseParser.batchRequestBody`):
    * numbered items `1. …`, `2. …` after the instruction line. A number
    * that breaks the sequence is text, not a new item.
    */
  def batchTexts(content: String): Option[Seq[String]] =
    if (!content.startsWith("Apply this instruction to each numbered text")) None
    else {
      val starts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      Item.findAllMatchIn(content).foreach { m =>
        if (m.group(1).toInt == starts.size + 1) starts += ((m.start, m.end))
      }
      Some(starts.indices.map { i =>
        val end = if (i + 1 < starts.size) starts(i + 1)._1 else content.length
        content.substring(starts(i)._2, end)
      })
    }
}
