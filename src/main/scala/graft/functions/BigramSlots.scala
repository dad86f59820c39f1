package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The reference's per-mapper bigram table (`mapreduce.erl:260-295`) as a
  * byte loop over a fixed `long[677]`: slot `(b₁−'a')·26 + (b₂−'a')` counts
  * each pair of adjacent `[a-z]` bytes, and slot [[TotalCount]] counts the
  * `onlyOne` `totalCount` key. The `[a-z]` gate closes the key domain, so a
  * scan task folds its words into one array and nothing keyed is shuffled.
  *
  * For valid UTF-8 this equals the docs path's filters + [[NGramArray]] +
  * `TextPipeline.totalCountPred`: a multibyte character has no byte in
  * `[97,122]`, so byte windows are character windows, and emitting any
  * bigram already implies the word's two-character length guard. */
object BigramSlots {
  /** The slot of the `onlyOne` `totalCount` counter, after the 26² bigrams. */
  val TotalCount = 26 * 26
  val Slots = TotalCount + 1

  private def letter(b: Byte): Int = { val c = b - 'a'; if (c >= 0 && c < 26) c else -1 }

  /** Adds `w`'s bigrams to `slots` and returns `slots`. `main` counts only
    * words whose first byte is in `[a-z]`; `onlyOne` counts every word,
    * plus `totalCount` when its last two bytes are in `[a-z]`. */
  def fold(w: UTF8String, onlyOne: Boolean, slots: Array[Long]): Array[Long] = {
    val n = w.numBytes
    if (n < 2) return slots
    var prev = letter(w.getByte(0))
    if (!onlyOne && prev < 0) return slots
    var i = 1
    while (i < n) {
      val c = letter(w.getByte(i))
      if (prev >= 0 && c >= 0) slots(prev * 26 + c) += 1
      prev = c
      i += 1
    }
    if (onlyOne && prev >= 0 && letter(w.getByte(n - 2)) >= 0) slots(TotalCount) += 1
    slots
  }

  /** Elementwise `into += from`; returns `into`. */
  def add(into: Array[Long], from: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Slots) { into(i) += from(i); i += 1 }
    into
  }

  /** The key of slot `s`: its two letters, or `totalCount`. */
  def key(s: Int): String =
    if (s == TotalCount) "totalCount"
    else new String(Array(('a' + s / 26).toChar, ('a' + s % 26).toChar))
}
