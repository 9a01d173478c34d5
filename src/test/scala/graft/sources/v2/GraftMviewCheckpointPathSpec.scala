package graft.sources.v2

/** [[GraftMviewSpec]] with the local-frame bound at 0: every refresh frame
  * takes the checkpoint path a churn over [[GraftMview.LocalFrameRows]]
  * rows takes, and key frames are collected rather than already local. */
class GraftMviewCheckpointPathSpec extends GraftMviewSpec {
  override protected def cat: String = "mvcatck"
  override protected def localBound: Long = 0L
}

/** [[GraftMviewChurnPropertySpec]]'s sweep on the checkpoint path (local-frame
  * bound 0), the same seeds and shapes. */
class GraftMviewChurnPropertyCheckpointPathSpec extends GraftMviewChurnPropertySpec {
  override protected def cat: String = "mvchurnck"
  override protected def localBound: Long = 0L
}
