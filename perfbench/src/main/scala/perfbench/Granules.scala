package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import graft.sources.Hdf5Writer
import graft.sources.Hdf5Writer._

/** Seeded NetCDF-4 granules for the ncagg workloads, written with the
  * program's own [[Hdf5Writer]], plus the ground truth the product is
  * checked against.
  *
  * Records sit on a 1 Hz grid of slots. Granule `g` owns slots
  * `[g * records, (g + 1) * records)` and carries each variable as:
  * `time` (f64 seconds since 2000-01-01 12:00:00, unlimited), `flux`
  * (f32 per record) and `counts` (i32 per record and channel). Every
  * value is a function of the slot, so a record delivered twice is an
  * exact copy. Planted defects:
  *  - interior gaps: runs of slots no granule delivers;
  *  - overlap: each granule after the first repeats the tail of the
  *    previous one;
  *  - invalid index values: extra records whose time is NaN, the
  *    `_FillValue`, or before 1970.
  * The bounds cut inside the first and the last granule. */
object Granules {

  /** How a workload's granule set is built. */
  final case class Shape(granules: Int, records: Int, channels: Int,
      overlap: Int, gapsPerGranule: Int, maxGap: Int,
      invalidPerGranule: Int, chunkRows: Int)

  /** What a correct product holds: `slots` records on the grid between
    * the bounds, `present` of them real, the others fill; `checksum`
    * over the real ones (see [[rowHash]]). */
  final case class Truth(loUs: Long, hiUs: Long, slots: Long, present: Long,
      checksum: Long)

  final case class Inputs(paths: Seq[String], truth: Truth, digest: String,
      bytes: Long)

  /** 2017-03-05T00:00:00Z, in seconds since the granules' time base. */
  val StartSec: Long = 542030400L
  val BaseUs: Long = 946728000000000L // 2000-01-01T12:00:00Z
  val TimeFill: Double = -9999.0
  val FluxFill: Float = -9999.0f

  def slotUs(slot: Long): Long = BaseUs + (StartSec + slot) * 1000000L

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def flux(seed: Long, slot: Long): Float =
    (mix(seed * 31 + slot) >>> 40).toFloat / 1024.0f

  def count(seed: Long, slot: Long, ch: Int): Int =
    ((mix(seed * 131 + slot * 64 + ch) >>> 52) & 0xfff).toInt

  /** Order-independent hash of one real record as the product holds it. */
  def rowHash(tUs: Long, flux: Float, counts: Array[Int]): Long = {
    var h = mix(tUs) ^ mix(java.lang.Float.floatToIntBits(flux).toLong + 17)
    var i = 0
    while (i < counts.length) { h = mix(h + counts(i)); i += 1 }
    h
  }

  def generate(dir: Path, shape: Shape, seed: Long): Inputs = {
    Files.createDirectories(dir)
    val rng = new scala.util.Random(seed)
    val total = shape.granules.toLong * shape.records
    // gap runs, kept away from granule edges so every granule keeps data
    val missing = new java.util.BitSet(total.toInt)
    for (g <- 0 until shape.granules; _ <- 0 until shape.gapsPerGranule) {
      val len = 1 + rng.nextInt(shape.maxGap)
      val room = shape.records - 2 * shape.overlap - len - 2
      if (room > 0) {
        val at = g.toLong * shape.records + shape.overlap + 1 + rng.nextInt(room)
        missing.set(at.toInt, (at + len).toInt)
      }
    }
    // the bounds cut inside the first and the last granule; the window's
    // length is fixed, so every seed asks for the same amount of work
    val loSlot = 1L + rng.nextInt(shape.records / 2)
    val hiSlot = loSlot + total - shape.records / 2 - 3

    val paths = (0 until shape.granules).map { g =>
      val own = (g.toLong * shape.records until (g + 1L) * shape.records)
      val again =
        if (g == 0) Nil
        else (own.start - shape.overlap until own.start)
      val slots = (again ++ own).filterNot(s => missing.get(s.toInt))
      // invalid records go in at random positions; Long.MinValue marks one
      val invalid = Seq.fill(shape.invalidPerGranule)(Long.MinValue)
      val recs = scala.collection.mutable.ArrayBuffer.from(slots)
      invalid.foreach(x => recs.insert(rng.nextInt(recs.size + 1), x))
      val p = dir.resolve(f"granule_$g%05d.nc")
      write(p, recs.toIndexedSeq, shape, seed, rng)
      p.toString
    }

    var present = 0L
    var sum = 0L
    val counts = new Array[Int](shape.channels)
    var s = loSlot
    while (s <= hiSlot) {
      if (!missing.get(s.toInt)) {
        present += 1
        var c = 0
        while (c < shape.channels) { counts(c) = count(seed, s, c); c += 1 }
        sum += rowHash(slotUs(s), flux(seed, s), counts)
      }
      s += 1
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    paths.foreach { p =>
      val b = Files.readAllBytes(java.nio.file.Paths.get(p))
      bytes += b.length
      md.update(b)
    }
    Inputs(paths,
      Truth(slotUs(loSlot), slotUs(hiSlot), hiSlot - loSlot + 1, present, sum),
      md.digest().map(b => f"$b%02x").mkString, bytes)
  }

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def write(p: Path, recs: IndexedSeq[Long], shape: Shape,
      seed: Long, rng: scala.util.Random): Unit = {
    val n = recs.size
    val time = le(n * 8)
    val fl = le(n * 4)
    val cn = le(n * shape.channels * 4)
    recs.foreach { s =>
      if (s == Long.MinValue) {
        time.putDouble(rng.nextInt(3) match {
          case 0 => Double.NaN
          case 1 => TimeFill
          case _ => -1.5e9 // 1952: a negative epoch time
        })
        fl.putFloat(rng.nextFloat())
        (0 until shape.channels).foreach(_ => cn.putInt(rng.nextInt(4096)))
      } else {
        time.putDouble((StartSec + s).toDouble)
        fl.putFloat(flux(seed, s))
        (0 until shape.channels).foreach(c => cn.putInt(count(seed, s, c)))
      }
    }
    val chunk = Some(shape.chunkRows min (n max 1))
    Hdf5Writer.write(p, Seq(
      WDataset("time", Seq(n.toLong), WF64, Some(time.array()), Seq(
        "CLASS" -> WStrAttr("DIMENSION_SCALE"),
        "NAME" -> WStrAttr("time"),
        "_Netcdf4Dimid" -> WLongAttr(0, 4),
        "_FillValue" -> WDoubleAttr(TimeFill),
        "units" -> WStrAttr("seconds since 2000-01-01 12:00:00")),
        unlimited0 = true, chunkRows = chunk, deflate = Some(1)),
      WDataset("channel", Seq(shape.channels.toLong), WF32, None, Seq(
        "CLASS" -> WStrAttr("DIMENSION_SCALE"),
        "NAME" -> WStrAttr("This is a netCDF dimension but not a netCDF " +
          f"variable.${shape.channels}%10d"),
        "_Netcdf4Dimid" -> WLongAttr(1, 4))),
      WDataset("flux", Seq(n.toLong), WF32, Some(fl.array()), Seq(
        "DIMENSION_LIST" -> WDimListAttr(Seq("time")),
        "_FillValue" -> WFloatAttr(FluxFill),
        "units" -> WStrAttr("W m-2")),
        unlimited0 = true, chunkRows = chunk, deflate = Some(1),
        shuffle = true),
      WDataset("counts", Seq(n.toLong, shape.channels.toLong), WInt(4),
        Some(cn.array()), Seq(
          "DIMENSION_LIST" -> WDimListAttr(Seq("time", "channel")),
          "units" -> WStrAttr("count")),
        unlimited0 = true, chunkRows = chunk, deflate = Some(1),
        shuffle = true)),
      Seq("platform" -> WStrAttr("perfbench"),
        "title" -> WStrAttr("perfbench synthetic granule")))
  }
}
