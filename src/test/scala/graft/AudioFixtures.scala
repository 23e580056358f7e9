package graft

import graft.operators.Multimodal

/** Audio containers only the specs build: 24-bit and IEEE-float WAV
  * writers and the AIFF / Sun-AU editions of [[Multimodal.syntheticWav]].
  * Like [[Multimodal.wavFromSamples]] they share no code with the decode
  * path under test.
  */
object AudioFixtures {

  /** Hand-rolled 24-bit PCM RIFF/WAVE writer — the common real-WAV
    * variant beyond PCM16 (studio masters). Each 16-bit input sample is
    * written as its 24-bit widening (`s << 8`), so the [[Multimodal.decodeAudio]]
    * top-16-bits contract round-trips SAMPLE-EXACT — the spec leg that
    * pins the 24-bit mapping. Shares no code with the decode path.
    */
  def wavFromSamples24(
      samples: Array[Short],
      sampleRate: Int = 16000,
      channels: Int = 1
  ): Array[Byte] = {
    require(channels >= 1)
    val dataLen = samples.length * 3
    val b = java.nio.ByteBuffer
      .allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1.toShort) // PCM
    b.putShort(channels.toShort)
    b.putInt(sampleRate)
    b.putInt(sampleRate * channels * 3)
    b.putShort((channels * 3).toShort)
    b.putShort(24.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      val v = s.toInt << 8 // 24-bit widening; LE bytes low→high
      b.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte).put(((v >> 16) & 0xff).toByte)
      ()
    }
    b.array()
  }

  /** Hand-rolled IEEE-float RIFF/WAVE writer (format tag 3, 32-bit) —
    * the other common real-WAV variant (DAW exports). Each input sample
    * is written as `s / 32768f` (exact in binary32 for every |s| < 2¹⁵),
    * so the [[Multimodal.decodeAudio]] round-half-up ×32768 contract round-trips
    * SAMPLE-EXACT. Shares no code with the decode path.
    */
  def wavFromSamplesFloat(
      samples: Array[Short],
      sampleRate: Int = 16000,
      channels: Int = 1
  ): Array[Byte] = {
    require(channels >= 1)
    val dataLen = samples.length * 4
    val b = java.nio.ByteBuffer
      .allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(3.toShort) // WAVE_FORMAT_IEEE_FLOAT
    b.putShort(channels.toShort)
    b.putInt(sampleRate)
    b.putInt(sampleRate * channels * 4)
    b.putShort((channels * 4).toShort)
    b.putShort(32.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => b.putFloat(s / 32768f))
    b.array()
  }

  /** [[Multimodal.syntheticWav]]'s AIFF edition: the SAME formula samples in the
    * FORM/AIFF container — the cross-container audio twin of the
    * x180 video discipline (same content, different container, must
    * fingerprint identically).
    */
  def syntheticAiff(seed: Long, nSamples: Int, sampleRate: Int = 16000, channels: Int = 1): Array[Byte] =
    Multimodal.aiffFromSamples(Array.tabulate(nSamples)(Multimodal.syntheticSample(seed, _)), sampleRate, channels)

  /** [[Multimodal.syntheticWav]]'s Sun-AU edition (PCM16BE payload). */
  def syntheticAu(seed: Long, nSamples: Int, sampleRate: Int = 16000, channels: Int = 1): Array[Byte] =
    Multimodal.auFromSamples(Array.tabulate(nSamples)(Multimodal.syntheticSample(seed, _)), sampleRate, channels)
}
