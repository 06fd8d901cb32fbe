package discobench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable

/** Seeded generator of the four Discogs dumps (releases, artists,
  * labels, masters) with a ground-truth manifest.
  *
  * Sizes follow BASELINE.md's expected counts (14,976,967 releases,
  * 7,993,954 artists, 1,821,993 labels) scaled to `labels` label
  * records; masters are sized like labels, because the reference's
  * masters total is a copy of the labels total.
  *
  * Every dump carries exact shares of duplicated ids (a later record
  * re-using an earlier id with different content; the first one in
  * document order must survive) and of rejects (a non-numeric id or no
  * id at all). Releases carry 1-3 labels and, on about a quarter of
  * them, 1-2 videos; masters credit 1-3 artists. About 2% of artists
  * are named as a 1-2 edit variant of an earlier artist, so the
  * near-duplicate join has real matches. Every name is at least
  * [[MinNameLen]] characters long.
  *
  * The same seed and size give byte-identical files: one
  * `SplittableRandom` stream per entity, a fixed generation order and
  * the JDK's deterministic gzip header (mtime 0).
  */
object DumpGen {

  val DupFrac = 0.03
  val RejectFrac = 0.002
  val MinNameLen = 9

  final case class Sizes(releases: Int, artists: Int, labels: Int, masters: Int) {
    def total: Long = releases.toLong + artists + labels + masters
  }

  def sizes(labels: Int): Sizes = Sizes(
    releases = math.round(labels * (14976967.0 / 1821993.0)).toInt,
    artists = math.round(labels * (7993954.0 / 1821993.0)).toInt,
    labels = labels, masters = labels)

  /** One record position in a dump. */
  sealed trait Slot
  final case class Fresh(id: Int) extends Slot
  final case class Dup(id: Int) extends Slot
  final case class Reject(rawId: Option[String]) extends Slot

  /** Generated dumps: file per entity, its manifest, and the surviving
    * ids the star workload draws its lookups from. */
  final case class Dumps(files: Map[String, String], manifest: Map[String, Any],
      releaseIds: IndexedSeq[Int], titleWords: IndexedSeq[String])

  private val Words = Vector("Midnight", "Echo", "River", "Golden", "Silent",
    "Electric", "Dream", "Shadow", "Fire", "Ocean", "Velvet", "Thunder",
    "Crystal", "Neon", "Broken", "Summer", "Winter", "Northern", "Lost",
    "Wild", "Blue", "Red", "Black", "White", "Secret", "Distant", "Hidden",
    "Endless", "Solar", "Lunar", "Urban", "Rain", "Storm", "Light", "Dark",
    "Heart", "Soul", "Machine", "Garden", "Station", "Signal", "Motion",
    "Voices", "Waves", "Colours", "Stories", "Roads", "Lights", "Nights",
    "Days", "Dance", "Funk", "Groove", "Rhythm", "Harmony", "Session",
    "Tape", "Vinyl", "Radio", "Paradise", "Empire", "Kingdom", "Horizon",
    "Mirror", "Orbit", "Pulse", "Drift", "Ember", "Frost", "Gravity")
  private val Genres = Vector("Electronic", "Rock", "Jazz", "Hip Hop", "Pop",
    "Funk / Soul", "Classical", "Reggae", "Latin", "Blues",
    "Folk, World, & Country", "Stage & Screen", "Non-Music", "Children's",
    "Brass & Military")
  private val Styles = Vector("House", "Techno", "Ambient", "Experimental",
    "Deep House", "Tech House", "Synth-pop", "Punk", "Indie Rock", "Disco",
    "Soul", "Hard Bop", "Downtempo", "Drum n Bass", "Dub", "Trance",
    "Psychedelic Rock", "Hardcore", "Noise", "Abstract", "Minimal",
    "Electro", "Breakbeat", "Garage Rock", "Modal", "Free Jazz", "Country",
    "Roots Reggae", "Score", "Folk")
  private val Countries = Vector("US", "UK", "Germany", "France", "Japan",
    "Netherlands", "Italy", "Sweden", "Canada", "Belgium", "Spain",
    "Australia", "Brazil", "Poland", "Russia")
  private val Quality = Vector("Correct", "Needs Vote", "Complete and Correct",
    "Needs Minor Changes", "Needs Major Changes")
  private val Formats = Vector("Vinyl", "CD", "Cassette", "File")

  /** Entity index of each root tag, mixed into the seed per stream. */
  private val Entities = Vector("releases", "artists", "labels", "masters")

  def generate(dir: String, seed: Long, labels: Int): Dumps = {
    val sz = sizes(labels)
    new File(dir).mkdirs()
    def rng(entity: String, stream: Int) =
      new SplittableRandom(seed * 1000003L + Entities.indexOf(entity) * 31L + stream)

    val relSlots = slots(sz.releases, rng("releases", 0))
    val artSlots = slots(sz.artists, rng("artists", 0))
    val labSlots = slots(sz.labels, rng("labels", 0))
    val masSlots = slots(sz.masters, rng("masters", 0))
    def fresh(ss: Array[Slot]) = ss.collect { case Fresh(id) => id }.toIndexedSeq
    val relIds = fresh(relSlots); val artIds = fresh(artSlots)
    val labIds = fresh(labSlots); val masIds = fresh(masSlots)

    // names first: releases and masters quote artist and label names
    val artistName = artistNames(artIds, rng("artists", 1))
    val labelName = {
      val r = rng("labels", 1)
      labIds.map(id => id -> s"${pick(Words, r)} ${pick(Words, r)} Records").toMap
    }

    val files = mutable.LinkedHashMap[String, String]()
    val tables = mutable.LinkedHashMap[String, Long]()
    val survivors = mutable.LinkedHashMap[String, Any]()
    val fanout = mutable.LinkedHashMap[String, Any]()
    val dumpMeta = mutable.LinkedHashMap[String, Any]()
    val childCounts = mutable.Map[String, Seq[Int]]()

    def dump(entity: String, ss: Array[Slot])(
        record: (Writer, Slot, SplittableRandom) => (String, Int)): Unit = {
      val path = s"$dir/$entity.xml.gz"
      val r = rng(entity, 2)
      val first = mutable.LinkedHashMap[Int, (String, Int)]()
      val dupIds = mutable.LinkedHashSet[Int]()
      val out = new OutputStreamWriter(new GZIPOutputStream(
        new BufferedOutputStream(new FileOutputStream(path), 1 << 16), 1 << 16), UTF_8)
      try {
        out.write(s"""<?xml version="1.0" encoding="UTF-8"?>\n<$entity>\n""")
        ss.foreach { s =>
          val (key, children) = record(out, s, r)
          s match {
            case Fresh(id) => first(id) = (key, children)
            case Dup(id) => dupIds += id
            case _ =>
          }
        }
        out.write(s"</$entity>\n")
      } finally out.close()
      files(entity) = path
      dumpMeta(entity) = Map(
        "records" -> ss.length,
        "bytes" -> new File(path).length(),
        "duplicate_records" -> ss.count(_.isInstanceOf[Dup]),
        "rejects" -> ss.count(_.isInstanceOf[Reject]),
        "reject_ids" -> ss.collect { case Reject(raw) => raw.getOrElse("") }.toSeq)
      survivors(entity) = dupIds.toSeq.sorted.map(id => Seq(id, first(id)._1))
      childCounts(entity) = first.values.map(_._2).toSeq
    }

    var videoTotal = 0L
    val videoHist = mutable.Map[Int, Int]().withDefaultValue(0)
    dump("releases", relSlots) { (w, s, r) =>
      val (idAttr, id) = s match {
        case Fresh(i) => (s""" id="$i"""", i)
        case Dup(i) => (s""" id="$i"""", i)
        case Reject(raw) => (raw.map(v => s""" id="$v"""").getOrElse(""), 0)
      }
      val title = titleFor(r, s)
      val nLabels = 1 + r.nextInt(3)
      val nVideos = if (r.nextInt(4) == 0) 1 + r.nextInt(2) else 0
      w.write(s"""  <release$idAttr status="Accepted">\n""")
      w.write("""    <images><image type="primary" uri="" uri150="" width="600" height="600" /></images>""" + "\n")
      val a = artIds(r.nextInt(artIds.length))
      w.write(s"    <artists><artist><id>$a</id><name>${esc(artistName(a))}</name><anv /><join /><role /><tracks /></artist></artists>\n")
      w.write(s"    <title>${esc(title)}</title>\n")
      w.write("    <labels>")
      (0 until nLabels).foreach { _ =>
        // about 2% of label references dangle, as in partial dumps
        val lid = if (r.nextInt(50) == 0) labIds.last + 1 + r.nextInt(1000)
          else labIds(r.nextInt(labIds.length))
        val lname = labelName.getOrElse(lid, s"Unlisted $lid")
        w.write(s"""<label name="${esc(lname)}" catno="CAT-${r.nextInt(100000)}" id="$lid" />""")
      }
      w.write("</labels>\n")
      w.write(s"""    <formats><format name="${pick(Formats, r)}" qty="1" text=""><descriptions><description>LP</description></descriptions></format></formats>\n""")
      w.write(s"    <genres>${distinct(Genres, 1 + r.nextInt(3), r).map(g => s"<genre>${esc(g)}</genre>").mkString}</genres>\n")
      val nStyles = r.nextInt(4)
      if (nStyles > 0)
        w.write(s"    <styles>${distinct(Styles, nStyles, r).map(x => s"<style>${esc(x)}</style>").mkString}</styles>\n")
      w.write(s"    <country>${pick(Countries, r)}</country>\n")
      w.write(s"    <released>${released(r)}</released>\n")
      if (r.nextInt(10) < 3)
        w.write(s"    <notes>Recorded at ${pick(Words, r)} Studio &amp; mastered #${r.nextInt(1000)}.</notes>\n")
      w.write(s"    <data_quality>${pick(Quality, r)}</data_quality>\n")
      if (r.nextInt(10) < 6)
        w.write(s"""    <master_id is_main_release="${r.nextBoolean()}">${masIds(r.nextInt(masIds.length))}</master_id>\n""")
      w.write("    <tracklist>")
      (1 to 2 + r.nextInt(5)).foreach { t =>
        w.write(s"<track><position>A$t</position><title>${pick(Words, r)} ${pick(Words, r)}</title><duration>${1 + r.nextInt(9)}:${10 + r.nextInt(50)}</duration></track>")
      }
      w.write("</tracklist>\n")
      if (nVideos > 0) {
        w.write("    <videos>")
        (0 until nVideos).foreach { v =>
          w.write(s"""<video src="https://www.youtube.com/watch?v=${id}x$v" duration="${30 + r.nextInt(600)}" embed="true"><title>${esc(title)} (video $v)</title><description>${pick(Words, r)}</description></video>""")
        }
        w.write("</videos>\n")
      }
      w.write("  </release>\n")
      if (s.isInstanceOf[Fresh]) { videoTotal += nVideos; videoHist(nVideos) += 1 }
      (title, nLabels)
    }
    dump("artists", artSlots) { (w, s, r) =>
      val (idElem, name) = s match {
        case Fresh(i) => (s"<id>$i</id>", artistName(i))
        case Dup(i) => (s"<id>$i</id>", artistName(i) + " Duplicate")
        case Reject(raw) =>
          (raw.map(v => s"<id>$v</id>").getOrElse(""), randomName(r))
      }
      w.write("  <artist>\n")
      w.write("""    <images><image height="450" type="primary" uri="" uri150="" width="600" /></images>""" + "\n")
      w.write(s"    $idElem\n    <name>${esc(name)}</name>\n")
      if (r.nextBoolean()) w.write(s"    <realname>${esc(randomName(r))}</realname>\n")
      if (r.nextInt(10) < 4) w.write(s"    <profile>Artist from ${pick(Countries, r)}, active in ${pick(Genres, r).replace("&", "&amp;")}.</profile>\n")
      else w.write("    <profile />\n")
      w.write(s"    <data_quality>${pick(Quality, r)}</data_quality>\n")
      val nUrls = r.nextInt(3)
      if (nUrls > 0) w.write(s"    <urls>${(0 until nUrls).map(u => s"<url>https://example.org/artist/${r.nextInt(1 << 20)}/$u</url>").mkString}</urls>\n")
      val nVar = r.nextInt(3)
      if (nVar > 0) w.write(s"    <namevariations>${(0 until nVar).map(v => s"<name>${esc(name.drop(v + 1))}</name>").mkString}</namevariations>\n")
      val nAlias = r.nextInt(3)
      if (nAlias > 0) w.write(s"""    <aliases>${(0 until nAlias).map { _ =>
          val a = artIds(r.nextInt(artIds.length)); s"""<name id="$a">${esc(artistName(a))}</name>""" }.mkString}</aliases>\n""")
      if (r.nextInt(10) == 0) {
        val ms = (0 until 1 + r.nextInt(3)).map(_ => artIds(r.nextInt(artIds.length)))
        w.write(s"""    <members>${ms.map(m => s"<id>$m</id>").mkString}${ms.map(m => s"""<name id="$m">${esc(artistName(m))}</name>""").mkString}</members>\n""")
      }
      w.write("  </artist>\n")
      (name, 0)
    }
    dump("labels", labSlots) { (w, s, r) =>
      val (idElem, name) = s match {
        case Fresh(i) => (s"<id>$i</id>", labelName(i))
        case Dup(i) => (s"<id>$i</id>", labelName(i) + " Duplicate")
        case Reject(raw) => (raw.map(v => s"<id>$v</id>").getOrElse(""), s"${pick(Words, r)} Rejected")
      }
      w.write("  <label>\n")
      w.write(s"    $idElem\n    <name>${esc(name)}</name>\n")
      if (r.nextInt(10) < 3) w.write(s"    <contactinfo>${pick(Words, r)} Street ${r.nextInt(200)}&#xD;\nCity</contactinfo>\n")
      if (r.nextInt(10) < 4) w.write(s"    <profile>Independent label for ${pick(Genres, r).replace("&", "&amp;")}.</profile>\n")
      w.write(s"    <data_quality>${pick(Quality, r)}</data_quality>\n")
      if (r.nextInt(5) == 0) {
        val p = labIds(r.nextInt(labIds.length))
        w.write(s"""    <parentLabel id="$p">${esc(labelName(p))}</parentLabel>\n""")
      }
      val nUrls = r.nextInt(3)
      if (nUrls > 0) w.write(s"    <urls>${(0 until nUrls).map(u => s"<url>https://example.org/label/${r.nextInt(1 << 20)}/$u</url>").mkString}</urls>\n")
      if (r.nextInt(10) == 0) {
        val subs = (0 until 1 + r.nextInt(3)).map(_ => labIds(r.nextInt(labIds.length)))
        w.write(s"""    <sublabels>${subs.map(x => s"""<label id="$x">${esc(labelName(x))}</label>""").mkString}</sublabels>\n""")
      }
      w.write("  </label>\n")
      (name, 0)
    }
    dump("masters", masSlots) { (w, s, r) =>
      val idAttr = s match {
        case Fresh(i) => s""" id="$i""""
        case Dup(i) => s""" id="$i""""
        case Reject(raw) => raw.map(v => s""" id="$v"""").getOrElse("")
      }
      val title = titleFor(r, s)
      val nArtists = 1 + r.nextInt(3)
      w.write(s"  <master$idAttr>\n")
      w.write(s"    <main_release>${relIds(r.nextInt(relIds.length))}</main_release>\n")
      w.write("""    <images><image type="primary" uri="" uri150="" width="600" height="600" /></images>""" + "\n")
      w.write("    <artists>")
      (0 until nArtists).foreach { _ =>
        val a = artIds(r.nextInt(artIds.length))
        val anv = if (r.nextInt(5) == 0) s"<anv>${esc(artistName(a).take(6))}</anv>" else "<anv />"
        w.write(s"<artist><id>$a</id><name>${esc(artistName(a))}</name>$anv<join /><role /><tracks /></artist>")
      }
      w.write("</artists>\n")
      w.write(s"    <genres>${distinct(Genres, 1 + r.nextInt(2), r).map(g => s"<genre>${esc(g)}</genre>").mkString}</genres>\n")
      val nStyles = r.nextInt(3)
      if (nStyles > 0)
        w.write(s"    <styles>${distinct(Styles, nStyles, r).map(x => s"<style>${esc(x)}</style>").mkString}</styles>\n")
      if (r.nextInt(10) < 9) w.write(s"    <year>${1950 + r.nextInt(75)}</year>\n")
      w.write(s"    <title>${esc(title)}</title>\n")
      w.write(s"    <data_quality>${pick(Quality, r)}</data_quality>\n")
      if (r.nextInt(5) == 0) w.write(s"    <notes>Master notes ${r.nextInt(1000)}.</notes>\n")
      w.write("  </master>\n")
      (title, nArtists)
    }

    def hist(xs: Seq[Int]) =
      xs.groupBy(identity).map { case (k, v) => k.toString -> v.size }.toSeq.sortBy(_._1).toMap
    tables("release") = relIds.length
    tables("release_label") = childCounts("releases").sum.toLong
    tables("release_video") = videoTotal
    tables("artist") = artIds.length
    tables("label") = labIds.length
    tables("master") = masIds.length
    tables("master_artist") = childCounts("masters").sum.toLong
    fanout("release_label") = hist(childCounts("releases"))
    fanout("release_video") = videoHist.map { case (k, v) => k.toString -> v }.toMap
    fanout("master_artist") = hist(childCounts("masters"))

    val manifest = Map(
      "seed" -> seed,
      "labels_scale" -> labels,
      "records" -> sz.total,
      "dumps" -> dumpMeta,
      "tables" -> tables,
      "survivors" -> survivors,
      "fanout" -> fanout)
    Dumps(files.toMap, manifest, relIds, Words)
  }

  /** Exact shares of duplicates and rejects at seeded positions in the
    * last 90% of the dump (so every duplicate has an earlier original);
    * fresh ids ascend with seeded gaps. */
  def slots(n: Int, r: SplittableRandom): Array[Slot] = {
    val nDup = math.round(n * DupFrac).toInt
    val nRej = math.max(2, math.round(n * RejectFrac).toInt)
    val lo = n / 10
    val pos = (lo until n).toArray
    var i = pos.length - 1
    while (i > 0) { // Fisher-Yates over the candidate positions
      val j = r.nextInt(i + 1)
      val t = pos(i); pos(i) = pos(j); pos(j) = t
      i -= 1
    }
    val dupAt = pos.take(nDup).toSet
    val rejAt = pos.slice(nDup, nDup + nRej).toSet
    val seen = mutable.ArrayBuffer[Int]()
    var next = 1
    var k = 0
    Array.tabulate(n) { p =>
      if (dupAt(p)) Dup(seen(r.nextInt(seen.length)))
      else if (rejAt(p)) {
        k += 1
        Reject(if (k % 2 == 1) Some(s"x${next + k}") else None)
      } else {
        val id = next
        seen += id
        next += 1 + r.nextInt(3)
        Fresh(id)
      }
    }
  }

  /** Artist names: random two-part names of 11-16 letters, and for
    * about 2% of artists a 1-2 edit variant of an earlier name. */
  private def artistNames(ids: IndexedSeq[Int], r: SplittableRandom): Map[Int, String] = {
    val names = new Array[String](ids.length)
    ids.indices.foreach { i =>
      names(i) =
        if (i > 10 && r.nextInt(50) == 0) {
          var v = names(r.nextInt(i))
          (1 to 1 + r.nextInt(2)).foreach(_ => v = edit(v, r))
          v
        } else randomName(r)
    }
    ids.zip(names).toMap
  }

  private def randomName(r: SplittableRandom): String = {
    def part(len: Int) = {
      val sb = new StringBuilder
      sb.append(('A' + r.nextInt(26)).toChar)
      (1 until len).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
      sb.toString
    }
    val a = 4 + r.nextInt(4)
    s"${part(a)} ${part(6 + r.nextInt(4))}"
  }

  /** One substitution, deletion or insertion of a lowercase letter,
    * never shortening below [[MinNameLen]]. */
  private def edit(s: String, r: SplittableRandom): String = {
    val i = 1 + r.nextInt(s.length - 1)
    val c = ('a' + r.nextInt(26)).toChar
    r.nextInt(3) match {
      case 0 => s.updated(i, c)
      case 1 if s.length > MinNameLen => s.patch(i, "", 1)
      case _ => s.patch(i, c.toString, 0)
    }
  }

  private def titleFor(r: SplittableRandom, s: Slot): String = {
    val n = 1 + r.nextInt(4)
    val base = (0 until n).map(_ => pick(Words, r)).mkString(" ")
    val t = if (r.nextInt(8) == 0) s"$base & ${pick(Words, r)}" else base
    s match {
      case Dup(_) => t + " (Repress)"
      case _ => t
    }
  }

  private def released(r: SplittableRandom): String = {
    val y = 1950 + r.nextInt(75)
    def two(x: Int) = f"$x%02d"
    r.nextInt(10) match {
      case 0 | 1 | 2 | 3 => s"$y-${two(1 + r.nextInt(12))}-${two(1 + r.nextInt(28))}"
      case 4 | 5 => s"$y-${two(1 + r.nextInt(12))}-00"
      case 6 | 7 => s"$y"
      case 8 => s"$y-00-00"
      case _ => ""
    }
  }

  private def pick[A](xs: IndexedSeq[A], r: SplittableRandom): A = xs(r.nextInt(xs.length))

  private def distinct[A](xs: IndexedSeq[A], n: Int, r: SplittableRandom): Seq[A] = {
    val out = mutable.LinkedHashSet[A]()
    while (out.size < n) out += pick(xs, r)
    out.toSeq
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
}
