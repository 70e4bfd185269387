package graft.analysis

import scala.collection.mutable

import graft.functions.Tokens

/** DRAIN log-template miner (He et al., ICWS 2017) — Scala implementation
  * matching the reference's behavior
  * (packages/common-utils/src/drain/drain.ts: depth 4, sim 0.4,
  * max 100 children, numeric-token parametrization, `<*>` wildcard,
  * optional LRU-capped cluster store).
  *
  * Fixed-depth prefix tree: root → token-count → first (depth-2) tokens
  * (numeric tokens wildcarded) → leaf cluster list; a new line joins the
  * most similar cluster at the leaf if similarity ≥ 0.4 (mismatching
  * template positions degrade to `<*>`), else starts a new cluster.
  */
final class Drain(maxClusters: Option[Int] = None) {
  import Drain._

  final class LogCluster(var templateTokens: Vector[String], val id: Long) {
    var size: Long = 0
    def template: String = templateTokens.mkString(" ")
  }

  private final class Node {
    val children = mutable.LinkedHashMap.empty[String, Node]
    var clusterIds: List[Long] = Nil
  }

  private val maxNodeDepth = Depth - 2
  private val root = new Node
  private val clusters = mutable.LinkedHashMap.empty[Long, LogCluster]
  private var clustersCounter = 0L

  def clusterCount: Int = clusters.size
  def allClusters: Seq[LogCluster] = clusters.values.toSeq

  private def hasNumbers(s: String): Boolean = s.exists(_.isDigit)

  def tokenize(content: String): Vector[String] = {
    val t = content.trim
    if (t.isEmpty) Vector.empty else Tokens.split(t).toVector
  }

  /** (similarity, paramCount): fraction of positions where the template
    * token equals the line token; `<*>` positions are skipped (or counted
    * as matches when includeParams). */
  private def seqDistance(template: Vector[String], tokens: Vector[String],
      includeParams: Boolean): (Double, Int) = {
    if (template.isEmpty) return (1.0, 0)
    var sim = 0; var params = 0
    var i = 0
    while (i < template.length) {
      if (template(i) == ParamStr) params += 1
      else if (template(i) == tokens(i)) sim += 1
      i += 1
    }
    val total = if (includeParams) sim + params else sim
    (total.toDouble / template.length, params)
  }

  private def createTemplate(tokens: Vector[String],
      template: Vector[String]): Vector[String] =
    tokens.zip(template).map { case (t, tt) =>
      if (t == tt) tt else ParamStr
    }

  private def fastMatch(ids: List[Long], tokens: Vector[String])
      : Option[LogCluster] = {
    var best: Option[LogCluster] = None
    var bestSim = -1.0
    var bestParams = -1
    ids.foreach { id =>
      clusters.get(id).foreach { c =>
        val (sim, params) = seqDistance(c.templateTokens, tokens,
          includeParams = false)
        if (sim > bestSim || (sim == bestSim && params > bestParams)) {
          bestSim = sim; bestParams = params; best = Some(c)
        }
      }
    }
    best.filter(_ => bestSim >= SimTh)
  }

  private def treeSearch(tokens: Vector[String]): Option[LogCluster] = {
    root.children.get(tokens.length.toString).flatMap { first =>
      if (tokens.isEmpty)
        first.clusterIds.headOption.flatMap(clusters.get)
      else {
        var cur = first
        var curDepth = 1
        var dead = false
        val it = tokens.iterator
        while (!dead && it.hasNext && curDepth < maxNodeDepth &&
            curDepth < tokens.length) {
          val token = it.next()
          cur.children.get(token)
            .orElse(cur.children.get(ParamStr)) match {
            case Some(n) => cur = n; curDepth += 1
            case None => dead = true
          }
        }
        if (dead) None else fastMatch(cur.clusterIds, tokens)
      }
    }
  }

  private def addSeqToTree(clusterId: Long,
      template: Vector[String]): Unit = {
    val first =
      root.children.getOrElseUpdate(template.length.toString, new Node)
    if (template.isEmpty) { first.clusterIds = List(clusterId); return }
    var cur = first
    var curDepth = 1
    val it = template.iterator
    var done = false
    while (!done && it.hasNext) {
      val token = it.next()
      if (curDepth >= maxNodeDepth || curDepth >= template.length) {
        // leaf: keep only still-live clusters, append the new one
        cur.clusterIds =
          cur.clusterIds.filter(clusters.contains) :+ clusterId
        done = true
      } else {
        cur.children.get(token) match {
          case Some(n) => cur = n
          case None =>
            if (hasNumbers(token)) {
              cur = cur.children.getOrElseUpdate(ParamStr, new Node)
            } else if (cur.children.contains(ParamStr)) {
              if (cur.children.size < MaxChildren)
                cur = cur.children.getOrElseUpdate(token, new Node)
              else cur = cur.children(ParamStr)
            } else {
              if (cur.children.size + 1 < MaxChildren)
                cur = cur.children.getOrElseUpdate(token, new Node)
              else if (cur.children.size + 1 == MaxChildren)
                cur = cur.children.getOrElseUpdate(ParamStr, new Node)
              else cur = cur.children(ParamStr)
            }
        }
        curDepth += 1
      }
    }
    if (!done) // ran out of tokens before hitting depth cap
      cur.clusterIds = cur.clusterIds.filter(clusters.contains) :+ clusterId
  }

  sealed trait UpdateType
  case object ClusterCreated extends UpdateType
  case object TemplateChanged extends UpdateType
  case object NoChange extends UpdateType

  def addLogMessage(content: String): (LogCluster, UpdateType) = {
    val tokens = tokenize(content)
    treeSearch(tokens) match {
      case None =>
        clustersCounter += 1
        val c = new LogCluster(tokens, clustersCounter)
        c.size = 1
        clusters.put(c.id, c)
        evictIfNeeded()
        addSeqToTree(c.id, tokens)
        (c, ClusterCreated)
      case Some(c) =>
        val newTemplate = createTemplate(tokens, c.templateTokens)
        val changed = newTemplate != c.templateTokens
        c.templateTokens = newTemplate
        c.size += 1
        // LRU touch
        clusters.remove(c.id).foreach(clusters.put(c.id, _))
        (c, if (changed) TemplateChanged else NoChange)
    }
  }

  /** Find the matching cluster without mutating state (includeParams like
    * the reference's match mode). */
  def matchLogMessage(content: String): Option[LogCluster] = {
    val tokens = tokenize(content)
    root.children.get(tokens.length.toString) match {
      case None => None
      case Some(_) => treeSearch(tokens)
    }
  }

  private def evictIfNeeded(): Unit = maxClusters.foreach { cap =>
    while (clusters.size > cap) clusters.remove(clusters.head._1)
  }
}

/** The reference's fixed tree parameters. */
object Drain {
  private val Depth = 4
  private val SimTh = 0.4
  private val MaxChildren = 100
  private val ParamStr = "<*>"
}

/** Masking pre-pass (reference drain/masking.ts): common variable patterns
  * → typed placeholders before mining. */
object Masking {
  private val Rules: Seq[(String, String)] = Seq(
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}(:\\d+)?\\b" -> "<IP>",
    "\\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\\b" -> "<UUID>",
    "\\b0x[0-9a-fA-F]+\\b" -> "<HEX>",
    "\\b[0-9a-fA-F]{16,}\\b" -> "<HEX>",
    "\\b\\d+\\.\\d+\\b" -> "<NUM>",
    "\\b\\d{4,}\\b" -> "<NUM>")

  /** The rule chain, for expression-form re-implementations
    * ([[Patterns.maskTemplate]]) — order is part of the contract. */
  def rules: Seq[(String, String)] = Rules

  def mask(line: String): String =
    Rules.foldLeft(line) { case (s, (re, repl)) => s.replaceAll(re, repl) }
}
