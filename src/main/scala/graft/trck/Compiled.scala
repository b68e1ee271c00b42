package graft.trck

import Ir._

/** Preprocessed, executable form of an IR [[Ir.Program]] — the analog of the
  * reference's fsm2c preprocess pass (reference: src/fsm2c.py:530-609):
  * window stacks per rule, variable→field typing, referenced fields (kvs),
  * entrypoint, parsed actions/conditions, and transition-legality checks
  * (reference: src/fsm2c.py:379-397 balance_window_rules).
  *
  * The FSM itself evaluates over a compact event form: `ts: Long` plus a
  * positional `Array[String]` of the program-referenced fields (indices from
  * [[CompiledProgram.fieldIndex]]); a missing field is `""` (reference id-0
  * semantics, src/db.c:90-113).
  */
object Compiled {

  val ExpiresNever: Long = Long.MaxValue // reference: UINT64_MAX
  val MaxTimestamp: Long = Long.MaxValue - 1 // reference: 0xfffffffffffffffe

  /** Refuse an event of `trail` at or above [[MaxTimestamp]], the
    * timestamp of the end-of-trail finalization: such an event would run
    * at or after it.
    */
  def requireEventTs(trail: String, ts: Long): Unit =
    if (ts >= MaxTimestamp)
      throw new IllegalArgumentException(
        s"trail $trail: event timestamp $ts must be below $MaxTimestamp, the end-of-trail timestamp")

  sealed trait Action
  case object Repeat extends Action
  case object Break extends Action
  case object Quit extends Action
  final case class RestartFromHere(label: Int) extends Action
  final case class RestartFromNext(label: Int) extends Action

  /** reference: src/fsm2c.py:372-380 parse_action; default labels 0
    * (src/fsm2c.py:419-427), `break` → lexically next rule.
    */
  def parseAction(s: String): Action = {
    val m = raw"(restart-from-(?:here|next|start)|break|repeat|stop|quit)(?:\((\w+)\))?".r
    s match {
      case m(t, label) =>
        t match {
          case "repeat"            => Repeat
          case "break"             => Break
          case "stop" | "quit"     => Quit
          case "restart-from-here" => RestartFromHere(Option(label).map(_.toInt).getOrElse(0))
          case "restart-from-next" => RestartFromNext(Option(label).map(_.toInt).getOrElse(0))
          case "restart-from-start" =>
            throw new IllegalArgumentException("'restart-from-start' not supported")
        }
      case _ => throw new IllegalArgumentException(s"Unknown action: $s")
    }
  }

  /** One per-field condition, pre-resolved to field slot + comparison.
    * Param vars are referenced by their index in
    * [[CompiledProgram.varNames]] so the per-event hot loop is pure array
    * access (the analog of the reference resolving value-ids once per DB,
    * src/match_traildb.c:86-159).
    */
  sealed trait Pred
  final case class EqLit(slot: Int, value: String) extends Pred
  final case class EqScalar(slot: Int, varIdx: Int, varName: String) extends Pred
  final case class InSet(slot: Int, varIdx: Int, varName: String) extends Pred
  /** timestamp OP value; op ∈ { == < <= > >= }, rhs literal or %scalar (varIdx ≥ 0) */
  final case class TsCmp(op: String, lit: Long, varIdx: Int, varName: String) extends Pred

  /** Yield kinds ([[CYield.kind]]), from the dst sigil. */
  final val YieldCounter = 0
  final val YieldSet = 1
  final val YieldMultiset = 2
  final val YieldHll = 3

  /** A yield source term resolved at compile time. */
  sealed trait CTerm
  /** the ctx cookie as 16 raw bytes (type 'B') */
  case object CookieT extends CTerm
  case object TimestampT extends CTerm
  case object FilterStartT extends CTerm
  case object FilterEndT extends CTerm
  /** a program field, by event slot */
  final case class FieldT(slot: Int) extends CTerm
  final case class LiteralT(value: String) extends CTerm
  /** a param, by its index in [[CompiledProgram.yieldParams]] */
  final case class ParamT(idx: Int) extends CTerm
  final case class WindowRefT(ref: Option[String]) extends CTerm
  final case class FcallT(name: String, args: Array[CTerm]) extends CTerm

  /** A yield resolved at compile time: `dst` without its sigil (the String
    * object [[Results]] keys by), its kind, its source terms and each
    * term's tuple type byte — a run parses no sigil and builds no type
    * array per yield.
    */
  final case class CYield(dst: String, kind: Int, src: Array[CTerm], types: Array[Byte])

  final case class CClause(
      preds: Array[Pred],
      negated: Boolean,
      action: Action,
      yields: Array[CYield],
      /** true if any pred consults a param var — drives GROUPBY_USED */
      anyVar: Boolean,
  )

  final case class CRule(
      name: String,
      window: Option[Long],
      isOuter: Boolean,
      clauses: Array[CClause],
      after: CClause, // defaulted to restart-from-here if absent
      /** enclosing window-block rule ids, outermost first (rule_windows) */
      windowStack: Array[Int],
  )

  final case class CompiledProgram(
      source: Program,
      rules: Array[CRule],
      entrypoint: Int,
      /** program-referenced fields → event array slot */
      fieldIndex: Map[String, Int],
      fields: Array[String],
      /** var name (with sigil) → bound field name */
      varFields: Map[String, String],
      /** all param vars referenced in conditions (with sigil) */
      vars: Set[String],
      groupbyVars: List[String],
      mergeResults: Boolean,
      groupbyValuesParam: Option[String],
      /** ordered param vars (with sigil); Pred.varIdx indexes this */
      varNames: Array[String],
      hasWindowRules: Boolean,
      nWindowRules: Int,
      /** yield dsts without their sigil, per kind */
      yieldCounters: List[String],
      yieldSets: List[String],
      yieldMultisets: List[String],
      yieldHlls: List[String],
      /** param vars read by yield terms (with sigil); [[ParamT]] indexes this */
      yieldParams: Array[String],
  ) {
    def slot(field: String): Int = fieldIndex.getOrElse(field, -1)
  }

  private val tsOpRe = raw"((?:>=)|(?:<=)|(?:==)|<|>)(.+)".r

  def compile(p: Program): CompiledProgram = {
    val rules = p.rules

    // ---- window stacks (reference: src/fsm2c.py:535-553 preprocess)
    val ruleWindows = new Array[List[Int]](rules.length)
    var windowStack = List.empty[Int] // reversed (innermost first)
    var windows = List.empty[Int]
    val windowRuleIds = scala.collection.mutable.ArrayBuffer[Int]()
    for (i <- rules.indices) {
      while (windows.nonEmpty && windows.head <= i) {
        windowStack = windowStack.tail; windows = windows.tail
      }
      ruleWindows(i) = windowStack.reverse
      if (rules(i).outer.isDefined) {
        windowRuleIds += i
        windowStack = i :: windowStack
        windows = rules(i).outer.get :: windows
      }
    }

    // ---- referenced fields, vars, var typing
    val kvs = scala.collection.mutable.LinkedHashSet[String]()
    val vars = scala.collection.mutable.LinkedHashSet[String]()
    val varFields = scala.collection.mutable.LinkedHashMap[String, String]()

    def scanTerm(t: YieldTerm): Unit = t match {
      case FieldTerm(n) if n != "cookie" && n != "timestamp" &&
          n != "cookie_timestamp_filter_start" && n != "cookie_timestamp_filter_end" =>
        kvs += n
      case FcallTerm(_, args) => args.foreach(scanTerm)
      case _                  => ()
    }

    for (r <- rules; c <- r.clauses ++ r.after.toList) {
      for ((field, conds) <- c.attrs; expr <- conds) {
        val stripped = expr.dropWhile("<=>".contains(_)).trim
        if (field != "timestamp") kvs += field
        if (isVariable(stripped)) {
          vars += stripped
          varFields(stripped) = field
        }
      }
      for (y <- c.yields; t <- y.src) scanTerm(t)
    }

    val groupbyVars = p.groupby.map(_.vars).getOrElse(Nil)
    vars ++= groupbyVars

    val fields = kvs.toArray
    val fieldIndex = fields.zipWithIndex.toMap
    val varNamesArr = vars.toArray
    val varIndex = varNamesArr.zipWithIndex.toMap

    // ---- yield var inventory (insertion-ordered, for stable output); one
    // String object per stripped dst, shared by every CYield and Results
    val counters = scala.collection.mutable.LinkedHashSet[String]()
    val sets = scala.collection.mutable.LinkedHashSet[String]()
    val msets = scala.collection.mutable.LinkedHashSet[String]()
    val hlls = scala.collection.mutable.LinkedHashSet[String]()
    val dstNames = scala.collection.mutable.HashMap[String, String]()
    def dstName(dst: String): String = dstNames.getOrElseUpdate(dst, stripType(dst))
    for (r <- rules; c <- r.clauses ++ r.after.toList; y <- c.yields)
      varType(y.dst) match {
        case "counter"  => counters += dstName(y.dst)
        case "set"      => sets += dstName(y.dst)
        case "multiset" => msets += dstName(y.dst)
        case "hll"      => hlls += dstName(y.dst)
        case other      => sys.error(s"bad yield dst ${y.dst} ($other)")
      }
    val yieldParams = scala.collection.mutable.LinkedHashMap[String, Int]()

    def compileTerm(t: YieldTerm): CTerm = t match {
      case FieldTerm("cookie")                        => CookieT
      case FieldTerm("timestamp")                     => TimestampT
      case FieldTerm("cookie_timestamp_filter_start") => FilterStartT
      case FieldTerm("cookie_timestamp_filter_end")   => FilterEndT
      case FieldTerm(f)                               => FieldT(fieldIndex(f))
      case LiteralTerm(v)                             => LiteralT(v)
      case ParamTerm(n)                               => ParamT(yieldParams.getOrElseUpdate(n, yieldParams.size))
      case WindowRefTerm(ref)                         => WindowRefT(ref)
      case FcallTerm(name, args)                      => FcallT(name, args.map(compileTerm).toArray)
    }

    def compileYield(y: Yield): CYield = {
      val kind = varType(y.dst) match {
        case "counter"  => YieldCounter
        case "set"      => YieldSet
        case "multiset" => YieldMultiset
        case _          => YieldHll
      }
      val types = y.src.map {
        case FieldTerm("cookie") => Tuple.TypeBytes
        case _                   => Tuple.TypeString
      }.toArray
      CYield(dstName(y.dst), kind, y.src.map(compileTerm).toArray, types)
    }

    // ---- compile clauses
    def compilePreds(attrs: Map[String, List[String]]): (Array[Pred], Boolean) = {
      val out = scala.collection.mutable.ArrayBuffer[Pred]()
      var anyVar = false
      for ((field, conds) <- attrs.toSeq.sortBy(_._1); expr <- conds) {
        if (field == "timestamp") {
          val e = expr.trim
          if (e.nonEmpty && e.head.isDigit) out += TsCmp("==", java.lang.Long.parseLong(e), -1, null)
          else
            e match {
              case tsOpRe(op, v0) =>
                val v = v0.trim
                if (v.startsWith("%")) { anyVar = true; out += TsCmp(op, 0L, varIndex(v), v) }
                else out += TsCmp(op, java.lang.Long.parseLong(v), -1, null)
              case _ => sys.error(s"bad timestamp condition: $expr")
            }
        } else {
          val slot = fieldIndex(field)
          if (isVariable(expr)) {
            varType(expr) match {
              case "scalar"           => anyVar = true; out += EqScalar(slot, varIndex(expr), expr)
              case "set" | "multiset" => anyVar = true; out += InSet(slot, varIndex(expr), expr)
              case t                  => sys.error(s"bad condition var $expr ($t)")
            }
          } else out += EqLit(slot, expr)
        }
      }
      (out.toArray, anyVar)
    }

    def compileClause(c: Clause, defaultAction: Action): CClause = {
      val (preds, anyVar) = compilePreds(c.attrs)
      CClause(
        preds = preds,
        negated = c.negated,
        action = c.action.map(parseAction).getOrElse(defaultAction),
        yields = c.yields.map(compileYield).toArray,
        anyVar = anyVar,
      )
    }

    val cRules = rules.zipWithIndex.map { case (r, i) =>
      CRule(
        name = r.name.getOrElse(i.toString),
        window = r.window,
        isOuter = r.outer.isDefined,
        clauses = r.clauses.map(compileClause(_, Repeat)).toArray,
        after = r.after
          .map(compileClause(_, RestartFromHere(0)))
          .getOrElse(CClause(Array.empty, negated = false, RestartFromHere(0), Array.empty, anyVar = false)),
        windowStack = ruleWindows(i).toArray,
      )
    }.toArray

    // ---- transition legality (reference: src/fsm2c.py:379-397): a jump
    // src→dst is defined only when dst's window stack is a prefix of src's.
    def checkJump(src: Int, dst: Int): Unit = {
      if (windowRuleIds.nonEmpty && dst < cRules.length) {
        val s = cRules(src).windowStack
        val d = cRules(dst).windowStack
        require(
          s.length >= d.length && s.take(d.length).sameElements(d),
          s"Invalid transition: jumping between unrelated window blocks $src->$dst",
        )
      }
    }
    for (i <- cRules.indices; c <- cRules(i).clauses :+ cRules(i).after)
      c.action match {
        case Break               => checkJump(i, i + 1)
        case RestartFromHere(l)  => checkJump(i, l)
        case RestartFromNext(l)  => checkJump(i, l)
        case _                   => ()
      }
    // `repeat` in a window-block's after has no loop to return to — the
    // reference's generated C would not even compile (no CONTINUE label for
    // outer rules).
    for (i <- cRules.indices if cRules(i).isOuter)
      require(cRules(i).after.action != Repeat, s"'repeat' not allowed in window after (rule $i)")

    val entry = rules.indexWhere(_.entrypoint) match {
      case -1 => 0
      case i  => i
    }

    CompiledProgram(
      source = p,
      rules = cRules,
      entrypoint = entry,
      fieldIndex = fieldIndex,
      fields = fields,
      varFields = varFields.toMap,
      vars = vars.toSet,
      groupbyVars = groupbyVars,
      mergeResults = p.groupby.exists(_.mergeResults),
      groupbyValuesParam = p.groupby.flatMap(_.values),
      varNames = varNamesArr,
      hasWindowRules = windowRuleIds.nonEmpty,
      nWindowRules = windowRuleIds.length,
      yieldCounters = counters.toList,
      yieldSets = sets.toList,
      yieldMultisets = msets.toList,
      yieldHlls = hlls.toList,
      yieldParams = yieldParams.keys.toArray,
    )
  }
}
