package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.JsonNode

import graft.alerts.{AlertListener, Alerts, StreamingAlertListener}
import graft.alerts.Alerts.{Config, RunContext}

/** S13 webhook alerts: payload parity with the reference formatter
  * (airflow/utils/alerts.py), channel skip/fan-out semantics, and the
  * Spark listener hooks firing on real scheduler events. */
class AlertsSpec extends SparkSuite {

  private val mapper = new ObjectMapper()
  private def parse(s: String): JsonNode = mapper.readTree(s)

  private val ctx = RunContext(
    pipelineId = "daily_etl",
    taskId = "enrich",
    executionDate = "2026-08-14T00:00:00Z",
    runId = "run_42",
    tryNumber = 3,
    logUrl = Some("https://example.invalid/logs/42"),
    error = Some("boom: " + ("x" * 600)))

  test("slack failure payload: header, facts, 500-char error cap, log button") {
    val p = parse(Alerts.slackFailure(ctx))
    assert(p.get("text").asText == "Task daily_etl.enrich failed")
    val blocks = p.get("blocks")
    assert(blocks.get(0).get("type").asText == "header")
    val fields = blocks.get(1).get("fields")
    assert(fields.size == 4)
    assert(fields.get(0).get("text").asText == "*Pipeline:*\ndaily_etl")
    assert(fields.get(3).get("text").asText == "*Try Number:*\n3")
    val errText = blocks.get(2).get("text").get("text").asText
    assert(errText.startsWith("*Error:*\n```boom: "))
    // reference truncates the exception to 500 chars before fencing
    assert(errText.length == "*Error:*\n``````".length + 500)
    val button = blocks.get(3).get("elements").get(0)
    assert(button.get("url").asText == "https://example.invalid/logs/42")
    assert(button.get("style").asText == "danger")
  }

  test("slack failure payload omits error/log blocks when absent") {
    val p = parse(Alerts.slackFailure(
      ctx.copy(error = None, logUrl = None)))
    assert(p.get("blocks").size == 2)
  }

  test("slack success + SLA payloads") {
    val ok = parse(Alerts.slackSuccess(ctx))
    assert(ok.get("text").asText ==
      "Pipeline daily_etl completed successfully")
    assert(ok.get("blocks").get(0).get("text").get("text").asText
      .contains("`daily_etl` completed successfully"))

    val sla = parse(Alerts.slackSlaMiss("daily_etl", Seq("fetch", "enrich")))
    assert(sla.get("text").asText == "SLA Miss in pipeline daily_etl")
    assert(sla.get("blocks").get(1).get("fields").get(1).get("text").asText
      == "*Tasks:*\nfetch, enrich")
  }

  test("pagerduty trigger/resolve share the dedup key; trigger carries details") {
    val trig = parse(Alerts.pagerdutyTrigger("rk_123", ctx))
    val res = parse(Alerts.pagerdutyResolve("rk_123", ctx))
    assert(trig.get("dedup_key").asText == "daily_etl-enrich-run_42")
    assert(trig.get("dedup_key") == res.get("dedup_key"))
    assert(trig.get("event_action").asText == "trigger")
    assert(res.get("event_action").asText == "resolve")
    assert(trig.get("payload").get("severity").asText == "error")
    assert(trig.get("payload").get("summary").asText ==
      "Pipeline task failed: daily_etl.enrich")
    val details = trig.get("payload").get("custom_details")
    assert(details.get("try_number").asInt == 3)
    assert(details.get("error").asText.startsWith("boom"))
    assert(trig.get("links").get(0).get("href").asText ==
      "https://example.invalid/logs/42")
    assert(!res.has("payload"))
  }

  test("teams cards: theme colors, facts, 300-char error cap") {
    val fail = parse(Alerts.teamsFailure(ctx))
    assert(fail.get("@type").asText == "MessageCard")
    assert(fail.get("themeColor").asText == "FF0000")
    val section = fail.get("sections").get(0)
    assert(section.get("facts").size == 4)
    assert(section.get("text").asText.length == "**Error:** ".length + 300)
    assert(fail.get("potentialAction").get(0).get("targets").get(0)
      .get("uri").asText == "https://example.invalid/logs/42")

    val ok = parse(Alerts.teamsSuccess(ctx))
    assert(ok.get("themeColor").asText == "00FF00")
    assert(ok.get("sections").get(0).get("facts").size == 2)
    assert(ok.get("potentialAction").size == 0)
  }

  test("fan-out posts only configured channels; empty config posts nothing") {
    val sender = new RecordingWebhookSender
    val cfg = Config(slackUrl = Some("https://hooks.invalid/s"),
      pagerdutyRoutingKey = Some("rk"), teamsUrl = None)
    assert(Alerts.notifyFailure(sender, cfg, ctx) ==
      Seq("slack", "pagerduty"))
    assert(sender.posts.map(_.url) ==
      Seq("https://hooks.invalid/s", Alerts.PagerDutyEventsUrl))

    // success resolves the pagerduty incident the failure opened
    assert(Alerts.notifySuccess(sender, cfg, ctx) ==
      Seq("slack", "pagerduty"))
    val resolve = parse(sender.posts.last.payload)
    assert(resolve.get("event_action").asText == "resolve")
    assert(resolve.get("dedup_key").asText ==
      parse(sender.posts(1).payload).get("dedup_key").asText)

    val none = new RecordingWebhookSender
    assert(Alerts.notifyFailure(none, Config(), ctx).isEmpty)
    assert(none.posts.isEmpty)
  }

  test("Config.fromEnv reads the reference env keys, skipping empties") {
    val cfg = Config.fromEnv(Map(
      "SLACK_WEBHOOK_URL" -> "https://hooks.invalid/x",
      "PAGERDUTY_ROUTING_KEY" -> "",
      "OTHER" -> "y"))
    assert(cfg.slackUrl.contains("https://hooks.invalid/x"))
    assert(cfg.pagerdutyRoutingKey.isEmpty)
    assert(cfg.teamsUrl.isEmpty)
  }

  test("AlertListener fires on a failed Spark job, stays quiet on success") {
    val sender = new RecordingWebhookSender
    val cfg = Config(slackUrl = Some("https://hooks.invalid/s"))
    val listener = new AlertListener(sender, cfg, "spec_pipeline",
      clock = () => java.time.Instant.EPOCH)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(10).count() // healthy job: no alert
      intercept[Exception] {
        spark.range(10).foreach { _ =>
          throw new RuntimeException("intentional spec failure")
        }
      }
      // listener bus is async; poll for delivery
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sender.posts.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val posts = sender.posts
      assert(posts.nonEmpty, "failed job produced no alert")
      val p = parse(posts.head.payload)
      assert(p.get("text").asText.startsWith("Task spec_pipeline.job-"))
      val blocks = p.get("blocks")
      assert(blocks.get(2).get("text").get("text").asText
        .contains("intentional spec failure"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("CLI verbs fire the DAG-style callbacks: failure alerts + rethrows, " +
    "success announces, unconfigured skips") {
    val sender = new RecordingWebhookSender
    val cfg = Config(slackUrl = Some("https://hooks.invalid/cli"))
    val wh = java.nio.file.Files
      .createTempDirectory("graft_alert_wh").toString

    intercept[IllegalArgumentException] {
      cli.Main.runWithAlerts(spark, "no-such-verb",
        "/root/testdata/sf0.001", wh, Map.empty, sender, cfg)
    }
    assert(sender.posts.size == 1)
    val fail = parse(sender.posts.head.payload)
    assert(fail.get("text").asText == "Task graft-cli.no-such-verb failed")
    assert(fail.get("blocks").get(2).get("text").get("text").asText
      .contains("unknown verb"))

    cli.Main.runWithAlerts(spark, "status",
      "/root/testdata/sf0.001", wh, Map.empty, sender, cfg)
    assert(sender.posts.size == 2)
    assert(parse(sender.posts.last.payload).get("text").asText ==
      "Pipeline graft-cli completed successfully")

    // empty config: alerts add zero behavior, the verb still runs
    val quiet = new RecordingWebhookSender
    cli.Main.runWithAlerts(spark, "status",
      "/root/testdata/sf0.001", wh, Map.empty, quiet, Config())
    assert(quiet.posts.isEmpty)
  }

  test("StreamingAlertListener: clean stop announces success, crash alerts") {
    import java.nio.file.Files
    val sender = new RecordingWebhookSender
    val cfg = Config(pagerdutyRoutingKey = Some("rk_stream"))
    val listener = new StreamingAlertListener(sender, cfg, "ingest",
      clock = () => java.time.Instant.EPOCH)
    spark.streams.addListener(listener)
    try {
      val src = Files.createTempDirectory("graft_alert_src").toString
      spark.range(5).toDF("v").coalesce(1).write
        .mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema

      def run(fail: Boolean): Unit = {
        val cp = Files.createTempDirectory("graft_alert_cp").toString
        val q = spark.readStream.schema(schema).parquet(src)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            if (fail) throw new RuntimeException("stream spec failure")
            b.count(); ()
          }
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination()
        catch { case _: Exception => () }
      }

      run(fail = false)
      run(fail = true)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sender.posts.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val actions = sender.posts.map(p =>
        parse(p.payload).get("event_action").asText).sorted
      assert(actions == Seq("resolve", "trigger"),
        s"expected one resolve + one trigger, got $actions")
      val trigPayload = sender.posts.map(_.payload)
        .find(p => parse(p).get("event_action").asText == "trigger").get
      assert(parse(trigPayload).get("payload").get("custom_details")
        .get("error").asText.contains("stream spec failure"))
    } finally spark.streams.removeListener(listener)
  }
}
