package graft.functions

/** Marks a native expression as total: deterministic, NULL on NULL
  * input, and never throwing on any input. Only these may be evaluated
  * for rows the query would not have evaluated them on —
  * [[graft.plan.HoistKernels]] moves a kernel out of a CASE branch into a
  * projection that runs on every row, which is unsafe for anything that
  * can fail (an ANSI cast, a divide, QuantizeMicro's NaN check).
  *
  * Each mark is a per-class promise about its eval body; a kernel that
  * gains a throwing path must drop the mark.
  */
trait TotalKernel
