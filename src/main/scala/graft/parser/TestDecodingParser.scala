package graft.parser

import scala.collection.immutable.VectorMap
import graft.model.ColumnValue

/** Output of parsing one `test_decoding` line. For BEGIN/COMMIT only
  * `operation` and `txn` are set; for DML, `relation`/`operation`/
  * `columns`/`oldColumns`; TRUNCATE carries the (possibly multi-table)
  * relation list and no columns.
  */
final case class ParsedChange(
    txn: String,
    relation: String,
    operation: String,
    noTupleData: Boolean,
    columns: VectorMap[String, ColumnValue],
    oldColumns: VectorMap[String, ColumnValue])

/** Character-level parser for the textual output of PostgreSQL's
  * `test_decoding` logical-decoding plugin.
  *
  * Grammar (behavior matched against the reference implementation,
  * parselogical/parselogical.go:103-290, and its test corpus):
  *
  * {{{
  * BEGIN 582
  * COMMIT 582
  * table <rel>: INSERT|UPDATE|DELETE: <col>[<type>]:<value> ...
  * table <rel>: UPDATE: old-key: <cols...> new-tuple: <cols...>
  * table <rel>: DELETE: (no-tuple-data)
  * table <r1>, <r2>: TRUNCATE: <flags>          (terminal; flags ignored)
  * }}}
  *
  * Rules:
  *  - identifiers (relation, column names) may be double-quoted with
  *    `""` escapes; the quotes are preserved verbatim in the output
  *    (exactly as the reference does — no unquoting);
  *  - values may be single-quoted with `''` escapes; quotes are
  *    stripped and escapes collapsed, and the `q` flag records that
  *    the value was quoted (distinguishing SQL NULL — unquoted `null`
  *    — and the sentinel `unchanged-toast-datum` from real strings);
  *  - type names may themselves contain one `[...]` suffix (arrays);
  *  - `old-key:` / `new-tuple:` switch the destination map;
  *  - a regular DML terminator must consume the whole line; TRUNCATE
  *    stops at the operation.
  *
  * This is a hand-rolled automaton on purpose: the quote/escape rules
  * make the format non-regular, so neither regexes nor `from_json` can
  * express it.
  */
object TestDecodingParser {

  // Parser states.
  private final val SRelation = 0
  private final val SOperation = 1
  private final val SColName = 2
  private final val SColType = 3
  private final val SColTypeBracket = 4
  private final val SColValue = 5
  private final val SColValueQuoted = 6
  private final val SQuotedIdent = 7
  private final val SEnd = 8

  /** Receives parsed columns as they are recognized. The hot path
    * (the Catalyst expression) supplies an array-backed sink so no
    * intermediate immutable maps are built per row.
    */
  trait ColumnSink {
    def add(oldSection: Boolean, name: String, v: String, t: String, q: Boolean): Unit
  }

  /** Metadata outcome of a parse (columns go to the sink). */
  final case class Outcome(txn: String, relation: String, operation: String, noTupleData: Boolean)

  private final class MapSink extends ColumnSink {
    val newCols = VectorMap.newBuilder[String, ColumnValue]
    val oldCols = VectorMap.newBuilder[String, ColumnValue]
    def add(oldSection: Boolean, name: String, v: String, t: String, q: Boolean): Unit = {
      val cv = ColumnValue(v, t, q)
      if (oldSection) oldCols += (name -> cv) else newCols += (name -> cv)
    }
  }

  /** Parse a full line. Returns Left(error) on malformed input. */
  def parse(line: String): Either[String, ParsedChange] = {
    val sink = new MapSink
    parseImpl(line, preludeOnly = false, sink).map(o =>
      ParsedChange(o.txn, o.relation, o.operation, o.noTupleData,
        sink.newCols.result(), sink.oldCols.result()))
  }

  private object NoopSink extends ColumnSink {
    def add(oldSection: Boolean, name: String, v: String, t: String, q: Boolean): Unit = ()
  }

  /** Prelude-only hot path: relation + operation without column
    * parsing and without map allocation — the cheap first phase of the
    * reference's two-phase design (parselogical.go:89-95), used by the
    * table filter so full parsing runs only on rows that pass.
    */
  def parsePreludeOrNull(line: String): Outcome =
    parseImpl(line, preludeOnly = true, NoopSink).getOrElse(null)

  /** Hot-path entry: parse into `sink`, return metadata or null on error. */
  def parseInto(line: String, sink: ColumnSink): Outcome =
    parseImpl(line, preludeOnly = false, sink).getOrElse(null)

  private def parseImpl(line: String, preludeOnly: Boolean, sink: ColumnSink): Either[String, Outcome] = {
    if (line == null || line.length < 5) return Left(s"message too short: $line")

    // Transaction boundary lines: "BEGIN <id>" / "COMMIT <id>".
    if (line.startsWith("BEGIN") || line.startsWith("COMMIT")) {
      val fields = line.split("\\s+").filter(_.nonEmpty)
      if (fields.length != 2 || (fields(0) != "BEGIN" && fields(0) != "COMMIT"))
        return Left(s"unknown transaction message: $line")
      return Right(Outcome(fields(1), "", fields(0), noTupleData = false))
    }
    if (!line.startsWith("table ")) return Left(s"unknown logical message received: $line")

    val n = line.length
    var state = SRelation
    var returnState = SRelation // state to pop back to from quoted-ident / bracket
    var valueWasQuoted = false
    var tokenStart = 6 // skip "table "
    var oldSection = false

    var relation: String = ""
    var operation: String = ""
    var noTupleData = false
    var curName: String = null
    var curType: String = null
    var truncate = false

    def captureValue(endExclusive: Int): Unit = {
      var s = tokenStart
      var e = endExclusive
      if (valueWasQuoted) { s += 1; e -= 1 }
      val raw = line.substring(s, e)
      val v = if (valueWasQuoted) raw.replace("''", "'") else raw
      sink.add(oldSection, curName, v, curType, valueWasQuoted)
    }

    var i = 0
    var done = false
    while (i <= n && !done) {
      val c: Char = if (i < n) line.charAt(i) else '\u0000'
      val next: Char = if (i + 1 < n) line.charAt(i + 1) else '\u0000'

      state match {
        case SRelation =>
          if (c == ':') {
            if (next != ' ') return Left(s"expected space after ':' at ${i + 1} in: $line")
            relation = line.substring(tokenStart, i)
            tokenStart = i + 2
            state = SOperation
          } else if (c == '"') { returnState = SRelation; state = SQuotedIdent }

        case SOperation =>
          if (c == ':') {
            if (next != ' ') return Left(s"expected space after ':' at ${i + 1} in: $line")
            operation = line.substring(tokenStart, i)
            if (operation == "TRUNCATE") { truncate = true; done = true }
            else {
              tokenStart = i + 2
              state = SColName
              if (preludeOnly) done = true
            }
          }

        case SColName =>
          if (c == '[') {
            curName = line.substring(tokenStart, i)
            tokenStart = i + 1
            state = SColType
          } else if (c == ':') {
            val tok = line.substring(tokenStart, i)
            if (tok == "old-key") oldSection = true
            else if (tok == "new-tuple") oldSection = false
            tokenStart = i + 2
          } else if (c == '(' && line.substring(tokenStart) == "(no-tuple-data)") {
            noTupleData = true
            state = SEnd
            done = true
          } else if (c == '"') { returnState = SColName; state = SQuotedIdent }

        case SColType =>
          if (c == ']') {
            if (next != ':') return Left(s"expected ':' after ']' at ${i + 1} in: $line")
            curType = line.substring(tokenStart, i)
            tokenStart = i + 2
            valueWasQuoted = false
            state = SColValue
          } else if (c == '[') { state = SColTypeBracket }
          else if (c == '"') { returnState = SColType; state = SQuotedIdent }

        case SColTypeBracket =>
          if (c == ']') state = SColType

        case SColValue =>
          if (c == '\u0000' || c == ' ') {
            captureValue(i)
            if (c == '\u0000') { state = SEnd }
            else { tokenStart = i + 1; valueWasQuoted = false; state = SColName }
          } else if (c == '\'') { state = SColValueQuoted }

        case SColValueQuoted =>
          if (c == '\'') {
            if (next == '\'') i += 1
            else { valueWasQuoted = true; state = SColValue }
          }

        case SQuotedIdent =>
          if (c == '"') {
            if (next == '"') i += 1
            else state = returnState
          }

        case SEnd => // trailing; nothing expected
      }
      i += 1
    }

    if (truncate || (preludeOnly && state == SColName))
      Right(Outcome("", relation, operation, noTupleData = false))
    else if (!preludeOnly && state == SEnd)
      Right(Outcome("", relation, operation, noTupleData))
    else
      Left(s"invalid parser end state $state for: $line")
  }
}
