package graft.state

/** State-value wire formats — the analog of the reference's
  * `state/JSONNonTransactionalSerializer.java`, `JSONTransactionalSerializer
  * .java`, `JSONOpaqueSerializer.java`, which serialize values for external
  * key-value stores as small JSON arrays (`[txid, value]`,
  * `[txid, curr, prev]`).
  *
  * Values are restricted to the JSON scalar types (Long/Double/String/
  * Boolean/null) — matching the reference's simple-JSON payloads; richer
  * values belong in a real codec behind the same `IBackingMap`.
  */
object StateSerializers {

  private[state] def writeScalar(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case d: Double => d.toString
    case other => throw new IllegalArgumentException(
      s"JSON state serializers handle scalars only, got: ${other.getClass}")
  }

  // A deliberately tiny scalar-JSON reader for the fixed array shapes the
  // serializers emit. Index-based, no general JSON support.
  private[state] def readScalars(s: String): Vector[Any] = {
    require(s.startsWith("[") && s.endsWith("]"), s"bad state payload: $s")
    val out = Vector.newBuilder[Any]
    var i = 1
    val n = s.length - 1
    while (i < n) {
      s.charAt(i) match {
        case ',' | ' ' => i += 1
        case '"' =>
          val sb = new StringBuilder
          i += 1
          while (s.charAt(i) != '"') {
            if (s.charAt(i) == '\\') {
              i += 1
              s.charAt(i) match {
                case 'n' => sb.append('\n'); i += 1
                case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 5
                case c => sb.append(c); i += 1
              }
            } else { sb.append(s.charAt(i)); i += 1 }
          }
          i += 1
          out += sb.toString
        case _ =>
          val end0 = s.indexWhere(c => c == ',' || c == ']', i)
          val end = if (end0 < 0) n else end0
          val tok = s.substring(i, end).trim
          out += (tok match {
            case "null" => null
            case "true" => true
            case "false" => false
            // writeScalar emits these for non-finite doubles — a reader
            // that can't take them back would make a WAL with one NaN
            // permanently unreplayable
            case "NaN" => Double.NaN
            case "Infinity" => Double.PositiveInfinity
            case "-Infinity" => Double.NegativeInfinity
            case t if t.contains('.') || t.contains('e') || t.contains('E') => t.toDouble
            case t => t.toLong
          })
          i = end
      }
    }
    out.result()
  }

  /** Group-by key tuple (scalars) as a JSON array — the key encoding for
    * external stores ([[DiskBackingMap]] and any real KV behind
    * `IBackingMap`). */
  def keyToJson(key: Seq[Any]): String = key.map(writeScalar).mkString("[", ",", "]")
  def keyFromJson(s: String): Seq[Any] = readScalars(s)

  /** `JSONNonTransactionalSerializer` — bare value. */
  def nonTransactionalToJson(v: Any): String = s"[${writeScalar(v)}]"
  def nonTransactionalFromJson(s: String): Any = readScalars(s)(0)

  /** `JSONTransactionalSerializer` — `[txid, value]`. */
  def transactionalToJson(v: TransactionalValue[Any]): String =
    s"[${v.txid},${writeScalar(v.value)}]"
  def transactionalFromJson(s: String): TransactionalValue[Any] = {
    val Vector(txid, value) = readScalars(s)
    TransactionalValue(txid.asInstanceOf[Long], value)
  }

  /** `JSONOpaqueSerializer` — `[currTxid, curr, prev]`, null prev = none.
    * Reference-parity caveat: the reference's Java model has no
    * Some(null)/None distinction either (a null prev IS "no prev"), so a
    * legitimately-null committed value round-trips to None and a same-txid
    * replay re-applies from scratch instead of rolling back to null. Null
    * is therefore not a storable committed aggregate value on this wire —
    * identical to the reference's behavior. */
  def opaqueToJson(v: OpaqueValue[Any]): String =
    s"[${v.currTxid},${writeScalar(v.curr)},${writeScalar(v.prev.orNull)}]"
  def opaqueFromJson(s: String): OpaqueValue[Any] = {
    val Vector(txid, curr, prev) = readScalars(s)
    OpaqueValue(txid.asInstanceOf[Long], curr, Option(prev))
  }
}
