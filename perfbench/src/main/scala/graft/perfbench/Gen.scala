package graft.perfbench

import scala.collection.mutable

import Wire.Ev

/** Seeded event and query generation, plus the model of what the
  * served index must hold afterwards.
  *
  * Everything but the send-time stamp (`timeS`) is a function of the
  * seed and the position in the sequence, so the same seed replays the
  * same events, markers and queries. Key spaces are disjoint:
  *   - dynamic keys `h-NNNN` / `svc-N`, rewritten by the ingest load;
  *   - static keys `s-NNNN` / `st-N`, preloaded once with tags and
  *     attributes and only ever read (the query mix runs over them);
  *   - marker keys `mk-N` / `marker`, sequence-numbered upserts whose
  *     metric is the sequence number, polled by primary key.
  *
  * Dynamic events carry a globally increasing metric, so the index's
  * latest-wins order (time, then metric) always keeps the last one
  * sent for a key — the model is simply "last sent per key". */
final class Gen(seed: Long, dynHosts: Int, dynServices: Int) {
  import Gen._

  private val rng = new java.util.Random(seed)
  private var seq = 0L

  /** The next dynamic event, stamped with the given send second. */
  def next(timeS: Long): Ev = {
    seq += 1
    val h = rng.nextInt(dynHosts)
    val s = rng.nextInt(dynServices)
    val u = rng.nextInt(100)
    val state = if (u < 5) "critical" else if (u < 25) "warning" else "ok"
    Ev(f"h-$h%04d", s"svc-$s", state, seq.toDouble, timeS, Ttl, Nil, Nil)
  }

  def marker(k: Int, markerSeq: Long, timeS: Long): Ev =
    Ev(s"mk-$k", "marker", "ok", markerSeq.toDouble, timeS, Ttl, Nil, Nil)
}

object Gen {
  val Ttl = 60.0f
  val MarkerKeys = 4
  val Tags: IndexedSeq[String] = (0 until 20).map(i => s"tag$i")

  /** The preloaded static range: 500 hosts × 10 services with tags,
    * attributes, a skewed state mix and a metric in [0, 100). */
  def staticRange(seed: Long, n: Int, timeS: Long): IndexedSeq[Ev] = {
    val rng = new java.util.Random(seed ^ 0x5eed5eedL)
    (0 until n).map { i =>
      val u = rng.nextInt(100)
      val state = if (u < 15) "critical" else if (u < 40) "warning" else "ok"
      val t1 = Tags(rng.nextInt(Tags.size))
      val tags = if (rng.nextBoolean()) Seq(t1) else
        Seq(t1, Tags(rng.nextInt(Tags.size))).distinct
      Ev(f"s-${i / 10}%04d", s"st-${i % 10}", state,
        math.floor(rng.nextDouble() * 10000) / 100, timeS, Ttl, tags,
        Seq("dc" -> s"dc-${rng.nextInt(4)}", "team" -> s"team-${rng.nextInt(8)}"))
    }
  }

  sealed abstract class QClass(val name: String)
  case object Point extends QClass("point")
  case object Scan extends QClass("scan")
  case object Tagged extends QClass("tagged")
  case object Like extends QClass("like")
  val QClasses: Seq[QClass] = Seq(Point, Scan, Tagged, Like)

  /** One query of the mix with the static events it must return. */
  final case class Q(cls: QClass, text: String, expect: Ev => Boolean)

  /** The 50/20/20/10 wire-query mix over the static range. */
  final class Queries(seed: Long, static: IndexedSeq[Ev]) {
    private val rng = new java.util.Random(seed ^ 0x9e3779b9L)
    def next(): Q = {
      val u = rng.nextInt(10)
      if (u < 5) {
        val e = static(rng.nextInt(static.size))
        Q(Point, s"""host = "${e.host}" and service = "${e.service}"""",
          x => x.host == e.host && x.service == e.service)
      } else if (u < 7) {
        val m = 90 + rng.nextInt(10)
        Q(Scan, s"""host =~ "s-%" and state = "critical" and metric > $m""",
          x => x.host.startsWith("s-") && x.state == "critical" && x.metric > m)
      } else if (u < 9) {
        val t = Tags(rng.nextInt(Tags.size))
        Q(Tagged, s"""tagged "$t"""", x => x.tags.contains(t))
      } else {
        val p = f"s-0${rng.nextInt(50)}%02d"
        Q(Like, s"""host =~ "$p%"""", x => x.host.startsWith(p))
      }
    }
  }

  /** Latest expected event per key. */
  final class Model {
    val latest = mutable.HashMap.empty[(String, String), Ev]
    def put(e: Ev): Unit = latest((e.host, e.service)) = e
  }
}
