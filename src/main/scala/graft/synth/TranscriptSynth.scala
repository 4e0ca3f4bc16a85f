package graft.synth

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.extract.Lexicon
import graft.schema.{Triple, Turn}

/**
 * Deterministic synthetic transcript corpus with planted coreference
 * ground truth (SURVEY.md §5.1, FIXTURES.md §1).
 *
 * Every turn is a pure function of (config, global turn index) via a
 * splitmix64 mixer — no wall clock, no unseeded Random — so the same
 * config yields byte-identical corpora on the driver (unit scale) and
 * distributed via spark.range (bench scale, ≥5M turns), and golden
 * triples are enumerable independently of Spark.
 *
 * Planted structure mirrors what the reference's clustering contract
 * needs to be exercised (SURVEY.md §2.4): surface-name families with
 * aliases and typos (the json-head name feature,
 * /root/reference/update_kg/Updater.py:302-321), KB-linked GPEs
 * (aida:linkTarget feature, update_kg/sparqls.py:92), and a hot-skew
 * family appearing in ~30% of fact turns (skew test, SURVEY.md §7.4).
 */
object TranscriptSynth {

  final case class Config(
      nConvs: Int,
      turnsPerConv: Int,
      seed: Long = 42L,
      nPersons: Int = 120,
      nOrgs: Int = 50,
      hotPct: Int = 30) {
    def nTurns: Long = nConvs.toLong * turnsPerConv
    def nGpes: Int = Lexicon.gpeGazetteer.length
  }

  // ---- deterministic mixing -------------------------------------------

  /** splitmix64 finalizer — public-domain PRNG mixer. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, i: Long, salt: Long): Long =
    mix64(mix64(seed ^ (salt * 0x632be59bd9b4e019L)) ^ i)
  private def pick(seed: Long, i: Long, salt: Long, n: Int): Int =
    (Math.floorMod(h(seed, i, salt), n.toLong)).toInt

  // ---- family model ----------------------------------------------------

  private val firsts = Array(
    "John", "Maria", "Wei", "Fatima", "Ivan", "Aisha", "Carlos", "Yuki",
    "Anna", "Omar", "Lena", "Ravi", "Sofia", "Pedro", "Ingrid", "Tariq",
    "Elena", "Marco", "Priya", "Hans", "Nadia", "Felix", "Amara", "Dmitri",
    "Clara", "Samuel", "Leila", "Viktor", "Rosa", "Kenji", "Olga", "Abdul")
  private val lasts = Array(
    "Smith", "Garcia", "Chen", "Hassan", "Petrov", "Okafor", "Silva",
    "Tanaka", "Muller", "Rossi", "Kumar", "Novak", "Santos", "Larsen",
    "Ahmed", "Kowalski", "Ivanov", "Ferrari", "Sharma", "Weber", "Haddad",
    "Becker", "Diallo", "Volkov", "Moreau", "Johnson", "Farouk", "Horvat",
    "Vargas", "Sato", "Orlova", "Rahman", "Dubois", "Klein", "Mbeki",
    "Nakamura", "Sorokin", "Bianchi", "Gupta", "Schmidt")
  private val orgStems = Array(
    "Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay", "Stark",
    "Wayne", "Tyrell", "Cyberdyne", "Aperture", "Wonka", "Oscorp", "Massive",
    "Soylent", "Gringotts", "Monarch", "Zorin", "Virtucon", "Duff", "Sirius",
    "Octan", "Nakatomi", "Weyland", "Yoyodyne", "Tessier", "Encom", "Rekall",
    "Omni", "Gekko", "Prestige", "Helix", "Vortex", "Zenith", "Quantum",
    "Stellar", "Apex", "Nimbus", "Cascade", "Meridian")
  private val orgSufs = Array("Corp", "Group", "Inc", "Ltd", "Labs")
  private val altSuf = Map("Corp" -> "Corporation", "Group" -> "Grp",
    "Inc" -> "Incorporated", "Ltd" -> "Limited", "Labs" -> "Laboratories")

  /** Canonical (most frequent) surface of a family — the expected
    * prototype name under the reference's mode-with-tiebreak rule
    * (update_kg/sparqls.py:302-341). */
  def canonical(cfg: Config, fam: Int): String =
    if (fam < cfg.nPersons)
      // (first, last) unique for fam < 1280 and last names spread so
      // no single last name owns a whole block of families
      firsts(fam % firsts.length) + " " + lasts((fam * 7) % lasts.length)
    else if (fam < cfg.nPersons + cfg.nOrgs) {
      val o = fam - cfg.nPersons
      orgStems(o % orgStems.length) + " " + orgSufs((o / orgStems.length) % orgSufs.length)
    } else Lexicon.gpeGazetteer(fam - cfg.nPersons - cfg.nOrgs)

  def etypeOf(cfg: Config, fam: Int): String =
    if (fam < cfg.nPersons) Lexicon.PER
    else if (fam < cfg.nPersons + cfg.nOrgs) Lexicon.ORG
    else Lexicon.GPE

  private def typo(w: String): String =
    if (w.length < 4) w
    else {
      val p = w.length / 2
      w.substring(0, p - 1) + w.charAt(p) + w.charAt(p - 1) + w.substring(p + 1)
    }

  /** Surface form of family `fam` for mention slot `r` (0..9):
    * 0-6 canonical, 7 abbreviated, 8 typo'd first token, 9 canonical.
    * Aliases always preserve one exact informative token so TF-IDF
    * blocking can recover the cluster (SURVEY.md §2.4 Spark mapping). */
  def surface(cfg: Config, fam: Int, r: Int): String = {
    val canon = canonical(cfg, fam)
    val et = etypeOf(cfg, fam)
    if (et == Lexicon.GPE || r <= 6) canon
    else {
      val parts = canon.split(' ')
      if (et == Lexicon.PER) {
        if (r == 7) parts(0).charAt(0) + ". " + parts(1)
        else if (r == 8) typo(parts(0)) + " " + parts(1)
        else canon
      } else { // ORG
        if (r == 7) parts(0) + " " + altSuf(parts(1))
        else if (r == 8) typo(parts(0)) + " " + parts(1)
        else canon
      }
    }
  }

  // verb table: (verb, subj kind, obj kind) over P(erson) O(rg) G(pe)
  private val verbs: Array[(String, Char, Char)] = Array(
    ("met", 'P', 'P'), ("visited", 'P', 'G'), ("acquired", 'O', 'O'),
    ("joined", 'P', 'O'), ("attacked", 'O', 'G'), ("called", 'P', 'P'),
    ("sanctioned", 'O', 'O'), ("founded", 'P', 'O'))
  private val placeVerbs = Set("met", "attacked", "called")

  private val fillers = Array(
    "ok, let me check that for you.",
    "sure — pulling the latest records now.",
    "that matches what we saw earlier in the thread.",
    "no new items found for this query.",
    "noted. anything else on this topic?",
    "the previous summary still stands.")
  private val prefixes = Array("", "fyi, ", "note: ", "so it seems ", "reportedly, ")
  private val toolNames = Array("search", "calc", "db", "browser")

  /** One planted fact: subj family, verb, obj family, optional place
    * family, optional person participant families (-1 = none) — the
    * ≥3-role event families that exercise arbitrary-arity argument
    * sets in event coreference. `part2Fam` plants TWO-participant
    * events ("with A and B"), pinning list-valued roles beyond the
    * keying oracle (the reference's per-type argument lists,
    * update_kg/Updater.py:329-345). */
  final case class Fact(subjFam: Int, verb: String, objFam: Int,
      placeFam: Int, partFam: Int = -1, part2Fam: Int = -1)

  private def famOfKind(cfg: Config, kind: Char, i: Long, salt: Long): Int = kind match {
    case 'P' =>
      // hot-skew: family 0 takes ~hotPct% of person slots
      if (pick(cfg.seed, i, salt ^ 77L, 100) < cfg.hotPct) 0
      else pick(cfg.seed, i, salt, cfg.nPersons)
    case 'O' => cfg.nPersons + pick(cfg.seed, i, salt, cfg.nOrgs)
    case _   => cfg.nPersons + cfg.nOrgs + pick(cfg.seed, i, salt, cfg.nGpes)
  }

  /** The planted fact of global turn `i`, if it is a fact turn. */
  def factAt(cfg: Config, i: Long): Option[Fact] = {
    val kindRoll = pick(cfg.seed, i, 1L, 10)
    if (kindRoll >= 5) None // 5-7 filler, 8-9 tool
    else {
      val (verb, sk, ok) = verbs(pick(cfg.seed, i, 2L, verbs.length))
      val subj = famOfKind(cfg, sk, i, 3L)
      var obj = famOfKind(cfg, ok, i, 4L)
      if (ok == sk && obj == subj) obj = famOfKind(cfg, ok, i, 5L) // no self-facts
      val place =
        if (placeVerbs.contains(verb) && pick(cfg.seed, i, 6L, 10) < 4)
          famOfKind(cfg, 'G', i, 7L)
        else -1
      // optional person participant ("with <PER>") — 3- and 4-role
      // events; never the subj/obj family (no self-accompaniment)
      val part =
        if (pick(cfg.seed, i, 15L, 10) < 3) {
          val p0 = famOfKind(cfg, 'P', i, 16L)
          val p = if (p0 == subj || p0 == obj) famOfKind(cfg, 'P', i, 17L) else p0
          if (p == subj || p == obj) -1 else p
        } else -1
      // optional SECOND participant ("with A and B") — list-valued
      // roles; distinct from every other family in the fact
      val part2 =
        if (part >= 0 && pick(cfg.seed, i, 19L, 10) < 3) {
          val q0 = famOfKind(cfg, 'P', i, 20L)
          val q = if (q0 == subj || q0 == obj || q0 == part)
            famOfKind(cfg, 'P', i, 21L) else q0
          if (q == subj || q == obj || q == part) -1 else q
        } else -1
      if (obj == subj) None else Some(Fact(subj, verb, obj, place, part, part2))
    }
  }

  private val epoch0 = 1577836800000L // 2020-01-01T00:00:00Z

  /** The turn at global index `i` — pure, deterministic. */
  def turnAt(cfg: Config, i: Long): Turn = {
    val conv = (i / cfg.turnsPerConv).toInt
    val tIdx = (i % cfg.turnsPerConv).toInt
    val ts = new Timestamp(epoch0 + conv * 86400000L + tIdx * 60000L)
    val convId = f"conv$conv%08d"
    factAt(cfg, i) match {
      case Some(Fact(s, verb, o, p, pa, pa2)) =>
        val sSurf = surface(cfg, s, pick(cfg.seed, i, 8L, 10))
        val oSurf = surface(cfg, o, pick(cfg.seed, i, 9L, 10))
        val verbText =
          if (verb == "joined" && pick(cfg.seed, i, 10L, 2) == 0) "works at"
          else if (verb == "visited" && pick(cfg.seed, i, 10L, 2) == 0) "traveled to"
          else verb
        val placeText = if (p >= 0) " in " + canonical(cfg, p) else ""
        val partText =
          if (pa >= 0)
            " with " + surface(cfg, pa, pick(cfg.seed, i, 18L, 10)) +
              (if (pa2 >= 0)
                 " and " + surface(cfg, pa2, pick(cfg.seed, i, 22L, 10))
               else "")
          else ""
        val prefix = prefixes(pick(cfg.seed, i, 11L, prefixes.length))
        val role = if (tIdx % 2 == 0) "user" else "assistant"
        Turn(convId, tIdx, role, s"$prefix$sSurf $verbText $oSurf$placeText$partText.", null, ts)
      case None =>
        val kindRoll = pick(cfg.seed, i, 1L, 10)
        if (kindRoll >= 8) {
          val tool = toolNames(pick(cfg.seed, i, 12L, toolNames.length))
          val n = pick(cfg.seed, i, 13L, 500)
          Turn(convId, tIdx, "tool", s"""tool output: {"status": "ok", "rows": $n}""", tool, ts)
        } else {
          val role = if (tIdx % 2 == 0) "user" else "assistant"
          Turn(convId, tIdx, role, fillers(pick(cfg.seed, i, 14L, fillers.length)), null, ts)
        }
    }
  }

  /** Driver-side corpus (unit/golden-fixture scales). */
  def turnsLocal(cfg: Config): Seq[Turn] =
    (0L until cfg.nTurns).map(turnAt(cfg, _))

  /** Distributed corpus via spark.range — partition-parallel, same
    * bytes as turnsLocal for the same config. */
  def turnsDs(spark: SparkSession, cfg: Config, partitions: Int = 0): Dataset[Turn] = {
    import spark.implicits._
    val n = cfg.nTurns
    val parts = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism * 2
    spark.range(0L, n, 1L, parts).map(i => turnAt(cfg, i))
  }

  /** Golden named event frames at canonical-name granularity: one
    * entry per expected EVENT CLUSTER — facts with identical
    * (event type, subject family, object family, place family) are
    * coreferent events; the value is the expected member count. The
    * ID-insensitive parity target for event coreference (same
    * content-comparison contract as [[goldenTriples]]). */
  def goldenEventFrames(cfg: Config): Map[(String, String, String, String, String), Long] = {
    val out = scala.collection.mutable.Map.empty[(String, String, String, String, String), Long]
    var i = 0L
    while (i < cfg.nTurns) {
      factAt(cfg, i).foreach { f =>
        val pred = Lexicon.triggers(f.verb)._1
        val parts = Seq(f.partFam, f.part2Fam).filter(_ >= 0)
          .map(canonical(cfg, _)).sorted
        val key = (pred, canonical(cfg, f.subjFam), canonical(cfg, f.objFam),
          if (f.placeFam >= 0) canonical(cfg, f.placeFam) else null,
          if (parts.nonEmpty) parts.mkString(", ") else null)
        out(key) = out.getOrElse(key, 0L) + 1L
      }
      i += 1
    }
    out.toMap
  }

  /** Golden prototype inventory at (canonical name, entity type)
    * granularity: every family that appears in ANY role of any planted
    * fact (subject, object, place, either participant) must surface as
    * an entity prototype — the ID-insensitive parity target for the
    * prototype stage (same content-comparison contract as
    * [[goldenTriples]]). */
  def goldenPrototypes(cfg: Config): Set[(String, String)] = {
    val out = scala.collection.mutable.Set.empty[(String, String)]
    var i = 0L
    while (i < cfg.nTurns) {
      factAt(cfg, i).foreach { f =>
        Seq(f.subjFam, f.objFam, f.placeFam, f.partFam, f.part2Fam)
          .foreach(fam =>
            if (fam >= 0) out += ((canonical(cfg, fam), etypeOf(cfg, fam))))
      }
      i += 1
    }
    out.toSet
  }

  /** Golden per-(subj, pred, obj) statement MULTIPLICITIES at
    * canonical-name granularity — the expected relation-cluster member
    * counts (`.Place` statements included, like [[goldenTriples]]):
    * relations with identical (pred, argument clusters) are one
    * cluster whose n_members is the planted fact count. */
  def goldenTripleCounts(cfg: Config): Map[Triple, Long] = {
    val out = scala.collection.mutable.Map.empty[Triple, Long]
    def add(t: Triple): Unit = out(t) = out.getOrElse(t, 0L) + 1L
    var i = 0L
    while (i < cfg.nTurns) {
      factAt(cfg, i).foreach { f =>
        val pred = Lexicon.triggers(f.verb)._1
        add(Triple(canonical(cfg, f.subjFam), pred, canonical(cfg, f.objFam)))
        if (f.placeFam >= 0)
          add(Triple(canonical(cfg, f.subjFam), pred + ".Place", canonical(cfg, f.placeFam)))
      }
      i += 1
    }
    out.toMap
  }

  /** Golden corpus-level triple set at canonical-name granularity —
    * the ID-insensitive parity target (SURVEY.md §5.1; reference IDs
    * are random, update_kg/Updater.py:156-158, so comparison is by
    * content). */
  def goldenTriples(cfg: Config): Set[Triple] = {
    val out = scala.collection.mutable.Set.empty[Triple]
    var i = 0L
    while (i < cfg.nTurns) {
      factAt(cfg, i).foreach { f =>
        val pred = Lexicon.triggers(f.verb)._1
        out += Triple(canonical(cfg, f.subjFam), pred, canonical(cfg, f.objFam))
        if (f.placeFam >= 0)
          out += Triple(canonical(cfg, f.subjFam), pred + ".Place", canonical(cfg, f.placeFam))
      }
      i += 1
    }
    out.toSet
  }
}
