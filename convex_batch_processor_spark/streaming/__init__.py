"""Streaming subsystem: the batch accumulator (a flush state machine on its
own epoch log) plus the streaming CDC state view and stream-stream joins."""
