package perfbench

import java.nio.file.{Files, Paths}
import graft.oma._

/** Input generator for the `convert` workload, run as its own process before
  * the measured one: a planet-shaped `.o5m` whose every pseudo-random choice
  * is mixed with the seed.
  *
  *   java -cp <classpath> perfbench.Gen <seed> <nodes> <out.o5m>
  *
  * The shape follows the program's conversion benchmark: world-spread nodes
  * with ascending ids (about 1 in 10 tagged), 5-node ways over consecutive
  * nodes (every 4th closed, the area path), one multipolygon relation per 25
  * ways, ways = nodes / 10, relations = nodes / 250, and a reset every 4096
  * elements so the scan can decode segments in parallel.
  */
object Gen {

  /** splitmix64 finaliser: the spreader, with the seed mixed into its input. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def synth(seed: Long, nNodes: Int): OsmInput = {
    val salt = mix(seed ^ 0x6f6d61L)
    def r(x: Long): Long = mix(x ^ salt)
    val nWays = nNodes / 10
    val nRels = nNodes / 250
    def meta(id: Long) = Meta(id, (id % 9 + 1).toInt, 1577836800L + id, 1000 + id,
      (id % 101).toInt, s"user${id % 17}")
    val nodes = (1 to nNodes).map { i =>
      val id = i.toLong
      val lon = (math.floorMod(r(id * 2 + 1), 3600000001L) - 1800000000L).toInt
      val lat = (math.floorMod(r(id * 2 + 2), 1800000001L) - 900000000L).toInt
      val h = math.floorMod(r(-id), 50L)
      val tags: Map[String, String] =
        if (h < 5) Map("amenity" -> s"v$h") else Map.empty
      OsmNode(meta(id), lon, lat, tags)
    }
    val span = math.max(1, nNodes - 6)
    val offset = math.floorMod(r(-1L - nNodes), span.toLong)
    val ways = (1 to nWays).map { j =>
      val id = 1000000L + j
      val base = (j.toLong * 7 + offset) % span + 1
      val nds =
        if (j % 4 == 0) Seq(base, base + 1, base + 2, base + 3, base)
        else (0 until 5).map(base + _)
      val tags = if (j % 4 == 0) Map("building" -> "yes")
        else Map("highway" -> s"h${math.floorMod(r(id), 3L)}")
      OsmWay(meta(id), nds, tags)
    }
    val rels = (1 to nRels).map { k =>
      val id = 2000000L + k
      // one closed way as the outer ring, plus an admin-centre node
      val w = 1000000L + (math.floorMod(r(id), math.max(1L, nWays / 4L)) + 1) * 4
      OsmRelation(meta(id), Seq(
        OsmMember("way", w, "outer"),
        OsmMember("node", math.floorMod(r(id + 1), nNodes.toLong) + 1, "admin_centre")),
        Map("type" -> "multipolygon", "landuse" -> "forest"))
    }
    OsmInput(None, nodes, ways, rels)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: perfbench.Gen <seed> <nodes> <out.o5m>")
    Files.write(Paths.get(args(2)), O5m.write(synth(args(0).toLong, args(1).toInt), resetEvery = 4096))
  }
}
