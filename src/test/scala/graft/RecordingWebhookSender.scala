package graft

import graft.alerts.WebhookSender

/** Test/fixture sender: records every post, delivers nothing. */
final class RecordingWebhookSender extends WebhookSender {
  final case class Post(url: String, payload: String,
                        headers: Map[String, String])
  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[Post]()

  override def post(url: String, payloadJson: String,
                    headers: Map[String, String]): Boolean = {
    buf.add(Post(url, payloadJson, headers)); true
  }

  def posts: Seq[Post] = {
    val it = buf.iterator()
    val out = Seq.newBuilder[Post]
    while (it.hasNext) out += it.next()
    out.result()
  }
}
