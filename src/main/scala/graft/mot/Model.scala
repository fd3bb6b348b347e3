package graft.mot

/** Typed values of the tracker kernel (SURVEY §1); the MOT-Challenge
  * row layout itself is `MotCsv.schema`. A box is its top-left corner
  * and size.
  */
final case class Bbox(x: Double, y: Double, w: Double, h: Double)

/** Kalman filter state: 6-vector [x, y, vx, vy, w, h] plus 6×6 covariance
  * stored row-major (reference src/tracking.py:248-301). Never a public
  * column — internal to the tracker kernel.
  */
final case class KalmanState(x: Array[Double], p: Array[Double])
