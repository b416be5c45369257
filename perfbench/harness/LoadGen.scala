package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Seeded traffic for the P2–P6 pipelines. One tick is one file per spool
  * and covers one hour of event time, so the event clock runs far ahead of
  * wall time: UV's day rollover and 24 h state TTL both happen inside a
  * run.
  *
  * The shape serves the qualitative asks "hot keys" and "small stated
  * shares" of out-of-order and late data. Every figure below is a choice
  * made here, not taken from a measured trace:
  *  - per tick, 120 app-log sessions, 80 CDC envelopes and 30 orders;
  *  - device ids (`mid`) Zipf-distributed with exponent 1.1 over 2,000
  *    ids, so a few keys are hot;
  *  - stragglers: 2% of sessions (and of orders) belong to keys of their
  *    own and are written one file late, inside the watermark (their event
  *    times sit in the last minutes of the previous tick);
  *  - late: 1% of open-loop sessions and orders carry event times twelve
  *    hours behind the clock, beyond the watermark unless a pipeline lags
  *    that far. The stateful pipelines drop them, and the batch twins
  *    leave out exactly the rows at or below the watermark of the batch
  *    that read them;
  *  - one order detail in twenty falls outside OrderWide's +-5 s join
  *    bound;
  *  - CDC mix: 45% order_info, 20% payment_info, 20% user_info, 10%
  *    base_province, 5% cart_info (no routing row).
  *
  * A pipeline's micro-batch cost is nearly all fixed cost at these sizes,
  * so the offered load is set by how often files land (the period in
  * [[StreamWorkload]]), not by rows per file.
  *
  * Lines are generated up front, so writing a file costs only the write. */
final class LoadGen(seed: Long, val ticks: Int, firstLateTick: Int, scale: Double) {
  import LoadGen._

  val appSessionsPerTick: Int = math.max(4, (120 * scale).toInt)
  val cdcPerTick: Int = math.max(4, (80 * scale).toInt)
  val ordersPerTick: Int = math.max(2, (30 * scale).toInt)

  private val rng = new scala.util.Random(seed)
  private val zipf: Array[Double] = {
    val w = (1 to Mids).map(i => 1.0 / math.pow(i, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def mid(): String = {
    val i = java.util.Arrays.binarySearch(zipf, rng.nextDouble())
    s"mid_${if (i >= 0) i else -i - 1}"
  }

  /** Per tick and spool: the lines of the file written at that tick. */
  val files: Array[Map[String, Seq[String]]] = Array.fill(ticks)(Map.empty)

  private var version = 0L
  private var orderId = 0L
  private var detailId = 0L

  locally {
    val carry = mutable.Map.empty[String, mutable.ArrayBuffer[String]].withDefault(_ => mutable.ArrayBuffer.empty)
    for (k <- 0 until ticks) {
      val out = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
      def buf(s: String) = out.getOrElseUpdate(s, mutable.ArrayBuffer.empty)
      Spools.foreach(s => buf(s) ++= carry(s))
      carry.clear()
      val next = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
      def later(s: String) = next.getOrElseUpdate(s, mutable.ArrayBuffer.empty)
      val t0 = Epoch0 + k * TickMs
      val lastTick = k == ticks - 1

      for (j <- 0 until appSessionsPerTick) {
        val r = rng.nextDouble()
        if (!lastTick && r < 0.02) {
          val m = s"smid_${k}_$j"
          later("applog") ++= session(m, t0 + TickMs - 120000L + rng.nextInt(60000))
        } else if (k >= firstLateTick && r < 0.03) {
          buf("applog") ++= session(s"lmid_${k}_$j", t0 - 12 * TickMs + rng.nextInt(600000))
        } else buf("applog") ++= session(mid(), t0 + rng.nextInt((TickMs - 60000L).toInt))
      }

      for (_ <- 0 until cdcPerTick) buf("cdc") += cdcEvent(t0)

      for (_ <- 0 until ordersPerTick) {
        val r = rng.nextDouble()
        orderId += 1
        if (!lastTick && r < 0.02) {
          val t = t0 + TickMs - 4000L
          val (info, details) = order(orderId, t)
          buf("order_info") += info
          later("order_detail") ++= details
        } else if (k >= firstLateTick && r < 0.03) {
          val (info, details) = order(orderId, t0 - 12 * TickMs + rng.nextInt(600000))
          buf("order_info") += info
          buf("order_detail") ++= details
        } else {
          val (info, details) = order(orderId, t0 + rng.nextInt((TickMs - 20000L).toInt))
          buf("order_info") += info
          buf("order_detail") ++= details
        }
      }
      files(k) = Spools.map(s => s -> rng.shuffle(buf(s).toSeq)).toMap
      next.foreach { case (s, b) => carry(s) = b }
    }
  }

  private def session(m: String, start: Long): Seq[String] = {
    val isNew = if (rng.nextDouble() < 0.3) "1" else "0"
    val common = s"""{"mid":"$m","is_new":"$isNew"}"""
    val lines = mutable.ArrayBuffer.empty[String]
    var t = start
    if (rng.nextDouble() < 0.15) {
      lines += s"""{"common":$common,"start":{"entry":"${Entries(rng.nextInt(Entries.size))}"},"ts":$t}"""
      t += 1000
    }
    var last: String = null
    val pages = rng.nextInt(4) // 0 follow-ups makes a bounce candidate
    for (p <- 0 to pages) {
      val page = Pages(rng.nextInt(Pages.size))
      val lastJson = if (last == null) "null" else s""""$last""""
      val displays = (0 until rng.nextInt(4))
        .map(i => s"""{"item":"sku_${rng.nextInt(200)}","pos_id":${i + 1}}""").mkString("[", ",", "]")
      lines += s"""{"common":$common,"page":{"page_id":"$page","last_page_id":$lastJson},"displays":$displays,"ts":$t}"""
      last = page
      t += 2000 + rng.nextInt(4000)
    }
    lines.toSeq
  }

  private def cdcEvent(t0: Long): String = {
    val r = rng.nextDouble()
    def env(table: String, tpe: String, data: String) =
      s"""{"database":"gmall","table":"$table","type":"$tpe","ts":${t0 / 1000},"data":$data}"""
    if (r < 0.45) {
      env("order_info", "insert",
        s"""{"id":${rng.nextInt(1000000)},"province_id":${1 + rng.nextInt(34)},"order_status":"1001","user_id":${1 + rng.nextInt(500)},"total_amount":"${money()}"}""")
    } else if (r < 0.65) {
      env("payment_info", "insert",
        s"""{"id":${rng.nextInt(1000000)},"order_id":${rng.nextInt(1000000)},"payment_type":"110${rng.nextInt(3)}","total_amount":"${money()}"}""")
    } else if (r < 0.85) {
      version += 1
      val tpe = if (rng.nextBoolean()) "insert" else "update"
      env("user_info", tpe,
        f"""{"id":"${1 + rng.nextInt(300)}","v":"$version%010d","name":"user${rng.nextInt(9999)}","gender":"${if (rng.nextBoolean()) "M" else "F"}"}""")
    } else if (r < 0.95) {
      version += 1
      env("base_province", "bootstrap-insert",
        f"""{"id":"${1 + rng.nextInt(34)}","v":"$version%010d","name":"prov${rng.nextInt(99)}","area_code":"${rng.nextInt(999999)}"}""")
    } else env("cart_info", "insert", s"""{"id":${rng.nextInt(1000000)},"sku_id":${rng.nextInt(200)}}""")
  }

  private def money(): String = f"${rng.nextInt(100000) / 100.0}%.2f"

  private def order(id: Long, t: Long): (String, Seq[String]) = {
    val ct = Time.format(Instant.ofEpochMilli(t))
    val info = s"""{"id":$id,"province_id":${1 + rng.nextInt(36)},"order_status":"1001","user_id":${1 + rng.nextInt(520)},"total_amount":${money()},"activity_reduce_amount":0.00,"coupon_reduce_amount":${money()},"original_total_amount":${money()},"feight_fee":5.00,"expire_time":"","create_time":"$ct","operate_time":""}"""
    val details = (0 to rng.nextInt(3)).map { _ =>
      detailId += 1
      // one detail in twenty falls outside the +-5 s join bound
      val dt = if (rng.nextDouble() < 0.05) 8000L else rng.nextInt(3) * 1000L
      val sku = 1 + rng.nextInt(210)
      s"""{"id":$detailId,"order_id":$id,"sku_id":$sku,"order_price":${money()},"sku_num":${1 + rng.nextInt(5)},"sku_name":"sku$sku","create_time":"${Time.format(Instant.ofEpochMilli(t + dt))}","split_total_amount":${money()},"split_activity_amount":0.00,"split_coupon_amount":0.00}"""
    }
    (info, details)
  }

  def rows(k: Int): Int = files(k).values.map(_.size).sum
}

object LoadGen {
  val Spools: Seq[String] = Seq("applog", "cdc", "order_info", "order_detail")
  val Mids = 2000
  val TickMs: Long = 3600L * 1000
  val Epoch0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val Pages = Vector("home", "good_list", "good_detail", "cart", "trade", "payment", "mine")
  val Entries = Vector("icon", "notice", "install")
  val Time: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  val RoutingConfig: String =
    """source_table,operate_type,sink_type,sink_table,sink_columns,sink_pk,sink_extend
      |order_info,insert,kafka,dwd_order_info,"id,province_id,order_status,user_id,total_amount",id,
      |payment_info,insert,kafka,dwd_payment_info,"id,order_id,payment_type,total_amount",id,
      |user_info,insert,hbase,dim_user_info,"id,v,name,gender",id,
      |user_info,update,hbase,dim_user_info,"id,v,name,gender",id,
      |base_province,insert,hbase,dim_base_province,"id,v,name,area_code",id,
      |""".stripMargin

  /** Write-then-atomic-rename, so a file source never lists a partial file. */
  def publish(staging: Path, spool: Path, name: String, lines: Seq[String]): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
