package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Reload-state document (kafka_client.py:312-317 / FIXTURES.md A3):
  * JSON keyed by data-topic name on a dedicated state topic. `offsets`
  * keys are STRINGS — a JSON round-trip artifact the reference depends
  * on (kafka_client.py:366) — preserved here deliberately.
  */
case class DumpState(
    dump_id: String,
    topic_name: String,
    offsets: Map[String, Long],
    dump_date: Long,
    transformer_id: String) {

  /** Hand-rolled, dependency-free JSON (fields are flat; offsets values
    * are longs; keys contain no specials beyond possible quotes).
    */
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val off = offsets.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    s"""{"dump_id":${q(dump_id)},"topic_name":${q(topic_name)},"offsets":$off,""" +
      s""""dump_date":$dump_date,"transformer_id":${q(transformer_id)}}"""
  }

  /** Hot-reload match (kafka_client.py:352-356): same topic, dump and
    * transformer — null-safe (absent fields never match).
    */
  def matches(topic: String, dumpId: String, transformerId: String): Boolean =
    topic_name != null && dump_id != null && transformer_id != null &&
      topic_name == topic && dump_id == dumpId && transformer_id == transformerId
}

object DumpState {
  /** Shared by every parse: a configured ObjectMapper is thread-safe,
    * and building one per line dominated reading a long state history.
    */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Minimal JSON parse via Jackson (bundled with Spark). */
  def fromJson(json: String): DumpState = {
    val node = mapper.readTree(json)
    def str(f: String) = Option(node.get(f)).map(_.asText()).orNull
    val offsets = Option(node.get("offsets")).map { o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    DumpState(str("dump_id"), str("topic_name"), offsets,
      Option(node.get("dump_date")).map(_.asLong()).getOrElse(0L),
      str("transformer_id"))
  }

  /** Arg-max by dump_date = "current" state (kafka_client.py:343-344).
    * `states` is in save order and dump_date has one-second resolution,
    * so among tied states the last one saved wins: two reloads of a
    * topic within one second must leave the second one current.
    */
  def latest(states: Seq[DumpState]): Option[DumpState] =
    states.reverseIterator.maxByOption(_.dump_date)
}

/** State persistence boundary. Production analog: a compacted Kafka
  * topic (kafka_client.py:321-327); test/local impl: an append-only
  * JSONL file per topic, preserving the same read-all + arg-max
  * semantics.
  */
trait StateStore {
  def save(state: DumpState): Unit
  def states(topic: String): Seq[DumpState]
  def latestMatching(topic: String, dumpId: String, transformerId: String): Option[DumpState] =
    DumpState.latest(states(topic)).filter(_.matches(topic, dumpId, transformerId))
}

class FileStateStore(dir: String) extends StateStore {
  private def path(topic: String): Path = Paths.get(dir, s"$topic.state.jsonl")

  override def save(state: DumpState): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(path(state.topic_name),
      (state.toJson + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  override def states(topic: String): Seq[DumpState] = {
    val p = path(topic)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(DumpState.fromJson)
  }
}
