package graft

/** Kryo registrations for the chunk-engine shuffle payloads: registered
  * classes serialize as small ids instead of full class-name strings,
  * which matters once billions of (ChunkKey, ArrayChunk) pairs cross
  * the wire. Registration only names classes: `NdArray`'s wire format
  * ([[graft.ndarray.NdArraySerializer]]) comes from its
  * `@DefaultSerializer` annotation, so Kryo instances built without
  * this list write the same payload bytes. */
object GraftKryo {
  val classes: String = Seq(
    "graft.core.ChunkKey",
    "graft.core.ArrayChunk",
    "graft.core.VarArray",
    "graft.ndarray.NdArray",
    "graft.operators.ChunkTransforms$MeanAcc",
    "graft.operators.ChunkTransforms$ReduceAcc",
    "graft.operators.ChunkTransforms$ArgAcc",
    "graft.operators.ChunkTransforms$TrendAcc",
    "graft.operators.ChunkTransforms$PolyAcc",
    "scala.Tuple2",
    "scala.Tuple3",
    "scala.collection.immutable.Map$Map1",
    "scala.collection.immutable.Map$Map2",
    "scala.collection.immutable.Map$Map3",
    "scala.collection.immutable.Map$Map4",
    "scala.collection.immutable.HashMap",
    "scala.collection.immutable.Vector",
    "[B", "[I", "[J", "[D", "[F",
    "[Ljava.lang.String;").mkString(",")
}
