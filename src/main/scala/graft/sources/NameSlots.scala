package graft.sources

/** Dense slots for property names, looked up by a row's names in order.
  *
  * Readers give the props of a file in a stable order and, mostly, as the
  * same `String` instances row after row (a header's names, a column list,
  * Jackson's canonical field names). So each lookup first tries the name
  * the previous row had at the same position: if it is the same instance
  * (`eq`), its slot is reused with no hashing. Next it tries the name that
  * last followed the row's previous name, which keeps a row that lacks a
  * key (a GeoJSON writer drops null props) from missing at every later
  * position. Any other name falls back to a map and becomes the memo for
  * that position and predecessor. The map never moves a name once it has
  * a slot, so a memo entry can never go stale; rows in any order, with
  * repeated, missing or equal-but-new names, get the same slots, only
  * slower.
  *
  * An unseen name gets the next free slot. Not thread-safe: one table per
  * reader, asked a row's names in order from position 0. */
final class NameSlots {
  private val index = new java.util.HashMap[String, Integer]()

  // by position: the name seen there last and its slot
  private var atName = new Array[String](16)
  private var atSlot = new Array[Int](16)
  // by the previous name's slot + 1 (0 at a row's start): the name that
  // followed it last and its slot
  private var nextName = new Array[String](16)
  private var nextSlot = new Array[Int](16)
  private var prev = -1

  /** The slot of `name`, seen at position `pos` of a row. */
  def slotAt(pos: Int, name: String): Int = {
    val after = if (pos == 0) 0 else prev + 1
    val slot =
      if (pos < atName.length && (atName(pos) eq name) && name != null) atSlot(pos)
      else {
        val s =
          if (after < nextName.length && (nextName(after) eq name) && name != null) nextSlot(after)
          else {
            val known = index.get(name)
            if (known != null) known.intValue
            else { val n = index.size; index.put(name, n); n }
          }
        if (pos >= atName.length) {
          atName = java.util.Arrays.copyOf(atName, math.max(pos + 1, atName.length * 2))
          atSlot = java.util.Arrays.copyOf(atSlot, atName.length)
        }
        if (after >= nextName.length) {
          nextName = java.util.Arrays.copyOf(nextName, math.max(after + 1, nextName.length * 2))
          nextSlot = java.util.Arrays.copyOf(nextSlot, nextName.length)
        }
        atName(pos) = name
        atSlot(pos) = s
        nextName(after) = name
        nextSlot(after) = s
        s
      }
    prev = slot
    slot
  }
}
