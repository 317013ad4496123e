package graft.rtcm

/** Constellation + signal-name tables for MSM messages — public RTCM
  * 10403 assignment data (reference: src/rtcm3.py:394-615).
  */
object SignalTables {
  /** messageType/10 %100 → constellation (reference: src/rtcm3.py:47-49,602-609). */
  val msmConstellations: Map[Int, String] = Map(
    107 -> "GPS", 108 -> "GLONASS", 109 -> "GALILEO",
    110 -> "SBAS", 111 -> "QZSS", 112 -> "BEIDOU")

  /** Single-letter satellite-id prefix (reference: src/decoderclasses.py:180-192). */
  val constellationPrefix: Map[String, String] = Map(
    "GPS" -> "G", "GLONASS" -> "R", "GALILEO" -> "E",
    "SBAS" -> "S", "QZSS" -> "J", "BEIDOU" -> "C")

  def msmConstellation(messageType: Int): String =
    msmConstellations((messageType / 10) % 1000)

  /** Constellation for any message type (reference: src/rtcm3.py:51-60). */
  def constellation(messageType: Int): String =
    if (messageType >= 1001 && messageType <= 1004) "GPS"
    else if (messageType >= 1009 && messageType <= 1012) "GLONASS"
    else if (messageType >= 1071 && messageType <= 1127) msmConstellation(messageType)
    else "GNSS"

  private val R = "Res"

  /** Signal-mask position → signal name, per constellation; index i is
    * the i-th bit of the 32-bit MSM signal mask. */
  val signalNames: Map[String, Vector[String]] = Map(
    "GPS" -> Vector(
      R, "L1C", "L1P", "L1W", R, R, R, "L2C", "L2P", "L2W",
      R, R, R, R, "L2S", "L2L", "L2X", R, R, R,
      R, "L5I", "L5Q", "L5X", R, R, R, R, R, "L1S", "L1L", "L1X"),
    "GLONASS" -> Vector(
      R, "G1C", "G1P", R, R, R, R, "G2C", "G2P", R,
      R, R, R, R, R, R, R, R, R, R,
      R, R, R, R, R, R, R, R, R, R, R, R),
    "GALILEO" -> Vector(
      R, "E1C", "E1A", "E1B", "E1X", "E1Z", R, "E6C", "E6A", "E6B",
      "E6X", "E6Z", R, "E7I", "E7Q", "E7X", R, "E8I", "E8Q", "E8X",
      R, "E5I", "E5Q", "E5X", R, R, R, R, R, R, R, R),
    "BEIDOU" -> Vector(
      R, "B2I", "B2Q", "B2X", R, R, R, "B6I", "B6Q", "B6X",
      R, R, R, "B7I", "B7Q", "B7X", R, R, R, R,
      R, R, R, R, R, R, R, R, R, R, R, R),
    "QZSS" -> Vector(
      R, "L1C", R, R, R, R, R, R, "L6S", "L6L",
      "L6X", R, R, R, "L2S", "L2L", "L2X", R, R, R,
      R, "L5I", "L5Q", "L5X", R, R, R, R, R, "L1S", "L1L", "L1X"),
    "SBAS" -> Vector(
      R, "L1C", R, R, R, R, R, R, R, R,
      R, R, R, R, R, R, R, R, R, R,
      R, "L5I", "L5Q", "L5X", R, R, R, R, R, R, R, R))
}
