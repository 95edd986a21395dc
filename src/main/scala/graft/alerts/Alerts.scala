package graft.alerts

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Webhook alerting (SURVEY §2 S13) — the reference's DAG alert
  * callbacks (reference: airflow/utils/alerts.py:19-297) re-expressed as
  * deterministic payload builders behind a sender seam.
  *
  * The reference formats three channel payloads (Slack block-kit,
  * PagerDuty Events v2, Teams MessageCard) from an Airflow task context
  * and POSTs them to env-configured webhooks. Here the payload
  * construction is pure (testable byte-for-byte) and delivery is a
  * [[WebhookSender]] implementation — the same seam pattern as
  * [[graft.sources.PriceSource]]: tests run a recording sender; a live
  * deployment plugs [[WebhookSender.Http]]. The engine-native hook is
  * [[AlertListener]]/[[StreamingAlertListener]]: where Airflow fires
  * callbacks from its scheduler, a Spark pipeline's failure surface is
  * the scheduler listener bus, so alerts attach with
  * `sparkContext.addSparkListener` / `spark.streams.addListener`.
  */
object Alerts {

  /** The run metadata every payload derives from — the engine's analogue
    * of `_format_task_context` (alerts.py:44-58). */
  final case class RunContext(
      pipelineId: String,
      taskId: String,
      executionDate: String,
      runId: String,
      tryNumber: Int,
      logUrl: Option[String] = None,
      error: Option[String] = None)

  /** Channel configuration; mirrors the reference's env lookups
    * (SLACK_WEBHOOK_URL / PAGERDUTY_ROUTING_KEY / TEAMS_WEBHOOK_URL,
    * alerts.py:66,181,233) but injectable so tests need no env. An unset
    * channel is skipped silently — the reference's "not set, skipping"
    * branch. */
  final case class Config(
      slackUrl: Option[String] = None,
      pagerdutyRoutingKey: Option[String] = None,
      teamsUrl: Option[String] = None) {
    def isEmpty: Boolean =
      slackUrl.isEmpty && pagerdutyRoutingKey.isEmpty && teamsUrl.isEmpty
  }

  object Config {
    def fromEnv(env: Map[String, String] = sys.env): Config = Config(
      slackUrl = env.get("SLACK_WEBHOOK_URL").filter(_.nonEmpty),
      pagerdutyRoutingKey =
        env.get("PAGERDUTY_ROUTING_KEY").filter(_.nonEmpty),
      teamsUrl = env.get("TEAMS_WEBHOOK_URL").filter(_.nonEmpty))
  }

  /** PagerDuty Events v2 intake — the one fixed endpoint
    * (alerts.py:208). */
  val PagerDutyEventsUrl = "https://events.pagerduty.com/v2/enqueue"

  private val mapper = new ObjectMapper()

  private def obj(): ObjectNode = mapper.createObjectNode()

  // ---------------------------------------------------------------------
  // Slack (block kit) — alerts.py:64-172
  // ---------------------------------------------------------------------

  /** Failure notification: header + facts section + optional truncated
    * error block + optional log-link button (alerts.py:64-120). */
  def slackFailure(ctx: RunContext): String = {
    val root = obj()
    root.put("text", s"Task ${ctx.pipelineId}.${ctx.taskId} failed")
    val blocks = root.putArray("blocks")

    val header = blocks.addObject()
    header.put("type", "header")
    val ht = header.putObject("text")
    ht.put("type", "plain_text")
    ht.put("text", "Pipeline Task Failed")
    ht.put("emoji", true)

    val section = blocks.addObject()
    section.put("type", "section")
    val fields = section.putArray("fields")
    def mrkdwn(label: String, value: String): Unit = {
      val f = fields.addObject()
      f.put("type", "mrkdwn")
      f.put("text", s"*$label:*\n$value")
    }
    mrkdwn("Pipeline", ctx.pipelineId)
    mrkdwn("Task", ctx.taskId)
    mrkdwn("Execution Date", ctx.executionDate)
    mrkdwn("Try Number", ctx.tryNumber.toString)

    ctx.error.foreach { e =>
      val err = blocks.addObject()
      err.put("type", "section")
      val et = err.putObject("text")
      et.put("type", "mrkdwn")
      // the reference caps the Slack error body at 500 chars (alerts.py:98)
      et.put("text", s"*Error:*\n```${e.take(500)}```")
    }

    ctx.logUrl.foreach { url =>
      val actions = blocks.addObject()
      actions.put("type", "actions")
      val button = actions.putArray("elements").addObject()
      button.put("type", "button")
      val bt = button.putObject("text")
      bt.put("type", "plain_text")
      bt.put("text", "View Logs")
      button.put("url", url)
      button.put("style", "danger")
    }
    root.toString
  }

  /** Success notification — single mrkdwn section (alerts.py:123-145). */
  def slackSuccess(ctx: RunContext): String = {
    val root = obj()
    root.put("text", s"Pipeline ${ctx.pipelineId} completed successfully")
    val section = root.putArray("blocks").addObject()
    section.put("type", "section")
    val t = section.putObject("text")
    t.put("type", "mrkdwn")
    t.put("text",
      s"*Pipeline `${ctx.pipelineId}` completed successfully*\n" +
        s"Execution: ${ctx.executionDate}")
    root.toString
  }

  /** SLA-miss notification over the list of late tasks
    * (alerts.py:148-172). */
  def slackSlaMiss(pipelineId: String, lateTasks: Seq[String]): String = {
    val root = obj()
    root.put("text", s"SLA Miss in pipeline $pipelineId")
    val blocks = root.putArray("blocks")
    val header = blocks.addObject()
    header.put("type", "header")
    val ht = header.putObject("text")
    ht.put("type", "plain_text")
    ht.put("text", "SLA Miss Alert")
    ht.put("emoji", true)
    val section = blocks.addObject()
    section.put("type", "section")
    val fields = section.putArray("fields")
    val f1 = fields.addObject()
    f1.put("type", "mrkdwn")
    f1.put("text", s"*Pipeline:*\n$pipelineId")
    val f2 = fields.addObject()
    f2.put("type", "mrkdwn")
    f2.put("text", s"*Tasks:*\n${lateTasks.mkString(", ")}")
    root.toString
  }

  // ---------------------------------------------------------------------
  // PagerDuty Events v2 — alerts.py:179-224
  // ---------------------------------------------------------------------

  /** Stable incident key: one incident per (pipeline, task, run), so a
    * later resolve closes exactly the incident the trigger opened
    * (alerts.py:192). */
  def pagerdutyDedupKey(ctx: RunContext): String =
    s"${ctx.pipelineId}-${ctx.taskId}-${ctx.runId}"

  /** `trigger` event with error-severity payload and custom details
    * (alerts.py:179-208). */
  def pagerdutyTrigger(routingKey: String, ctx: RunContext): String = {
    val root = obj()
    root.put("routing_key", routingKey)
    root.put("event_action", "trigger")
    root.put("dedup_key", pagerdutyDedupKey(ctx))
    val payload = root.putObject("payload")
    payload.put("summary",
      s"Pipeline task failed: ${ctx.pipelineId}.${ctx.taskId}")
    payload.put("severity", "error")
    payload.put("source", "graft")
    val details = payload.putObject("custom_details")
    details.put("pipeline_id", ctx.pipelineId)
    details.put("task_id", ctx.taskId)
    details.put("execution_date", ctx.executionDate)
    details.put("try_number", ctx.tryNumber)
    ctx.error match {
      case Some(e) => details.put("error", e)
      case None    => details.putNull("error")
    }
    val links = root.putArray("links")
    ctx.logUrl.foreach { url =>
      val link = links.addObject()
      link.put("href", url)
      link.put("text", "Pipeline Logs")
    }
    root.toString
  }

  /** `resolve` event against the same dedup key (alerts.py:211-224). */
  def pagerdutyResolve(routingKey: String, ctx: RunContext): String = {
    val root = obj()
    root.put("routing_key", routingKey)
    root.put("event_action", "resolve")
    root.put("dedup_key", pagerdutyDedupKey(ctx))
    root.toString
  }

  // ---------------------------------------------------------------------
  // Microsoft Teams MessageCard — alerts.py:231-297
  // ---------------------------------------------------------------------

  private def teamsCard(themeColor: String, summary: String,
                        activityTitle: String,
                        facts: Seq[(String, String)],
                        text: Option[String],
                        logUrl: Option[String]): String = {
    val root = obj()
    root.put("@type", "MessageCard")
    root.put("@context", "http://schema.org/extensions")
    root.put("themeColor", themeColor)
    root.put("summary", summary)
    val section = root.putArray("sections").addObject()
    section.put("activityTitle", activityTitle)
    val fs = section.putArray("facts")
    facts.foreach { case (name, value) =>
      val f = fs.addObject()
      f.put("name", name)
      f.put("value", value)
    }
    section.put("markdown", true)
    text.foreach(section.put("text", _))
    val actions = root.putArray("potentialAction")
    logUrl.foreach { url =>
      val a = actions.addObject()
      a.put("@type", "OpenUri")
      a.put("name", "View Logs")
      val target = a.putArray("targets").addObject()
      target.put("os", "default")
      target.put("uri", url)
    }
    root.toString
  }

  /** Red card with facts + 300-char error body (alerts.py:231-271). */
  def teamsFailure(ctx: RunContext): String = teamsCard(
    themeColor = "FF0000",
    summary = s"Pipeline Task Failed: ${ctx.pipelineId}.${ctx.taskId}",
    activityTitle = "Pipeline Task Failed",
    facts = Seq(
      "Pipeline" -> ctx.pipelineId,
      "Task" -> ctx.taskId,
      "Execution Date" -> ctx.executionDate,
      "Try Number" -> ctx.tryNumber.toString),
    // Teams cap is 300 chars in the reference (alerts.py:270)
    text = ctx.error.map(e => s"**Error:** ${e.take(300)}"),
    logUrl = ctx.logUrl)

  /** Green success card (alerts.py:274-297). */
  def teamsSuccess(ctx: RunContext): String = teamsCard(
    themeColor = "00FF00",
    summary = s"Pipeline ${ctx.pipelineId} completed successfully",
    activityTitle = "Pipeline Completed Successfully",
    facts = Seq(
      "Pipeline" -> ctx.pipelineId,
      "Execution Date" -> ctx.executionDate),
    text = None,
    logUrl = None)

  // ---------------------------------------------------------------------
  // Fan-out: one context → every configured channel
  // ---------------------------------------------------------------------

  /** Failure fan-out; returns the channels that actually posted. */
  def notifyFailure(sender: WebhookSender, cfg: Config,
                    ctx: RunContext): Seq[String] = {
    val slack = cfg.slackUrl.toSeq
      .filter(url => sender.post(url, slackFailure(ctx))).map(_ => "slack")
    val pd = cfg.pagerdutyRoutingKey.toSeq
      .filter(key => sender.post(PagerDutyEventsUrl,
        pagerdutyTrigger(key, ctx))).map(_ => "pagerduty")
    val teams = cfg.teamsUrl.toSeq
      .filter(url => sender.post(url, teamsFailure(ctx))).map(_ => "teams")
    slack ++ pd ++ teams
  }

  /** Success fan-out: Slack/Teams announce; PagerDuty RESOLVES the
    * incident the matching failure opened (alerts.py:211-224). */
  def notifySuccess(sender: WebhookSender, cfg: Config,
                    ctx: RunContext): Seq[String] = {
    val slack = cfg.slackUrl.toSeq
      .filter(url => sender.post(url, slackSuccess(ctx))).map(_ => "slack")
    val pd = cfg.pagerdutyRoutingKey.toSeq
      .filter(key => sender.post(PagerDutyEventsUrl,
        pagerdutyResolve(key, ctx))).map(_ => "pagerduty")
    val teams = cfg.teamsUrl.toSeq
      .filter(url => sender.post(url, teamsSuccess(ctx))).map(_ => "teams")
    slack ++ pd ++ teams
  }
}

/** Delivery seam. Payload building is pure; everything effectful crosses
  * this one interface. */
trait WebhookSender {

  /** POST `payloadJson` to `url`; true iff delivered. Implementations
    * must not throw — the reference swallows delivery errors so a dead
    * webhook can never fail the pipeline (alerts.py:33-40). */
  def post(url: String, payloadJson: String,
           headers: Map[String, String] = Map.empty): Boolean
}

object WebhookSender {

  /** Live JDK-HttpClient sender (30 s timeout, JSON content type —
    * alerts.py:19-40). Proven over REAL loopback HTTP in
    * HttpSeamsSpec (payload + content type received verbatim, status
    * codes honored, channel fan-out reports only acceptors) — the
    * strongest exercise possible in this egress-less build. */
  final class Http(timeoutSeconds: Long = 30L) extends WebhookSender {
    private lazy val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds))
      .build()

    override def post(url: String, payloadJson: String,
                      headers: Map[String, String]): Boolean =
      if (url == null || url.isEmpty) false
      else
        try {
          val builder = java.net.http.HttpRequest.newBuilder()
            .uri(java.net.URI.create(url))
            .timeout(java.time.Duration.ofSeconds(timeoutSeconds))
            .header("Content-Type", "application/json")
            .POST(java.net.http.HttpRequest.BodyPublishers
              .ofString(payloadJson, java.nio.charset.StandardCharsets.UTF_8))
          headers.foreach { case (k, v) => builder.header(k, v) }
          val resp = client.send(builder.build(),
            java.net.http.HttpResponse.BodyHandlers.discarding())
          resp.statusCode() >= 200 && resp.statusCode() < 300
        } catch { case scala.util.control.NonFatal(_) => false }
  }
}
