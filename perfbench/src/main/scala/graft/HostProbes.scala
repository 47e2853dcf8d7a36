package graft

/** The engine bench's host-speed probes (`Bench.cpuSpinReg`, an ALU loop,
  * and `Bench.cpuSpinMem`, a dependent-load walk), readable from the
  * benchmark's own package. They are recorded as context only. */
object HostProbes {
  def spinRegS(): Double = Bench.cpuSpinReg()
  def spinMemS(): Double = Bench.cpuSpinMem()
}
